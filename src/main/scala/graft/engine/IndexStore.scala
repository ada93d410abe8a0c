package graft.engine

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.ByteBuffer
import java.util.zip.CRC32

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.util.AccumulatorV2

import graft.index.{CellGrid, PointRTree2D}

/** Persisted two-level index — C5 (serde/persist) at scale. The driver
  * grid's per-cell packed trees are serialized into a `(cell BIGINT,
  * n BIGINT, tree BINARY)` table, committed group-by-group through
  * [[Checkpoint]] (kill/resume at group granularity, per-group lineage),
  * and PROBED from the stored bytes — queries deserialize and descend, they
  * never rebuild. At 100 TB, rebuilding every per-cell tree per query job
  * is a large standing tax; this table is the standing index.
  *
  * Reference: rstar's serde feature persists the whole R-tree structure and
  * round-trips it (rstar/src/rtree.rs:171-179, test :1289-1305); here the
  * unit of persistence is the per-cell tree, because the cell grid is the
  * distribution layer (SURVEY §2.1 maps C5 to exactly this table shape).
  *
  * Cells stay whole within a group (group = cell mod nGroups), so a probe
  * touches exactly the groups its cells hash to, and a killed build loses
  * at most one uncommitted group.
  *
  * Every committed group carries a CELL MANIFEST `_cells_<g>` beside its
  * parquet: the group's [[CellHistogram]], written after the data
  * and before the `_done_<g>` marker, so a marker vouches for both. Reads
  * resolve latest-wins on the driver from the manifests and scan only the
  * groups and cells they own — no window, no shuffle, no schema inference.
  */
object IndexStore {

  /** The stored table's schema, given to every scan explicitly. */
  private val Schema = StructType(Seq(
    StructField("cell", LongType), StructField("n", LongType),
    StructField("tree", BinaryType)))

  private def emptyTable(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), Schema)

  /** Collects a group's `(cell, n)` pairs inside the job that writes the
    * group, so committing its manifest costs no job. Merging is a map
    * union, so a retried task's repeated updates change nothing.
    */
  private final class CellCounts
      extends AccumulatorV2[(Long, Long), CellHistogram] {
    private val counts = mutable.HashMap.empty[Long, Long]
    def isZero: Boolean = counts.isEmpty
    def copy(): CellCounts = { val c = new CellCounts; c.counts ++= counts; c }
    def reset(): Unit = counts.clear()
    def add(v: (Long, Long)): Unit = counts(v._1) = v._2
    def merge(o: AccumulatorV2[(Long, Long), CellHistogram]): Unit = o match {
      case c: CellCounts => counts ++= c.counts
      case _ => throw new UnsupportedOperationException(o.getClass.getName)
    }
    def value: CellHistogram = CellHistogram.of(counts)
  }

  /** Manifest bytes: count (int), `count` × (cell, n) longs, then the
    * CRC32 of the pairs (long). A file whose length or checksum disagrees
    * is torn and never trusted.
    */
  private def writeManifest(fs: FileSystem, p: HPath, m: CellHistogram): Unit = {
    val body = ByteBuffer.allocate(16 * m.cells.length)
    m.cells.indices.foreach(i => body.putLong(m.cells(i)).putLong(m.ns(i)))
    val crc = new CRC32
    crc.update(body.array)
    val out = fs.create(p, true)
    try {
      out.writeInt(m.cells.length)
      out.write(body.array)
      out.writeLong(crc.getValue)
    } finally out.close()
  }

  private def readManifest(fs: FileSystem, p: HPath, len: Long): Option[CellHistogram] =
    if (len < 12 || (len - 12) % 16 != 0) None
    else {
      val in = fs.open(p)
      try {
        val n = in.readInt()
        if (len != 12L + 16L * n) None
        else {
          val body = new Array[Byte](16 * n)
          in.readFully(body)
          val crc = new CRC32
          crc.update(body)
          if (in.readLong() != crc.getValue) None
          else {
            val b = ByteBuffer.wrap(body)
            val cells = new Array[Long](n)
            val ns = new Array[Long](n)
            cells.indices.foreach { i => cells(i) = b.getLong(); ns(i) = b.getLong() }
            Some(CellHistogram(cells, ns))
          }
        }
      } finally in.close()
    }

  /** The store's filesystem, resolved from the root's scheme — `file:`,
    * `hdfs:`, `s3a:`, … — through the session's Hadoop configuration.
    * The store lives wherever the cluster's data lives; nothing in this
    * object touches driver-local POSIX paths.
    */
  private def hfs(spark: SparkSession, root: String): FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def treeBytes(t: PointRTree2D): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val oos = new ObjectOutputStream(bos)
    oos.writeObject(t)
    oos.close()
    bos.toByteArray
  }

  def treeFrom(b: Array[Byte]): PointRTree2D = {
    val ois = new ObjectInputStream(new ByteArrayInputStream(b))
    val t = ois.readObject().asInstanceOf[PointRTree2D]
    ois.close()
    t
  }

  /** Commit a tree stage through [[Checkpoint]]: `slice(g)` returns group
    * g's rows and a thunk yielding its manifest once they are written;
    * the manifest lands before the group's marker. A recomputed group
    * overwrites whatever manifest an earlier, uncommitted attempt left.
    */
  private def commitStage(spark: SparkSession, root: String, stage: String,
      nGroups: Int)(slice: Int => (DataFrame, () => CellHistogram)): DataFrame = {
    val fs = hfs(spark, root)
    val manifests = mutable.HashMap.empty[Int, () => CellHistogram]
    new Checkpoint(spark, root).runStage(stage, nGroups,
      { g => val (df, m) = slice(g); manifests(g) = m; df },
      beforeCommit = g => writeManifest(fs,
        new HPath(new HPath(root, stage), s"_cells_$g"), manifests(g)()))
  }

  /** `rows` built with a fresh [[CellCounts]] its job fills. */
  private def counted(spark: SparkSession)(
      rows: CellCounts => DataFrame): (DataFrame, () => CellHistogram) = {
    val acc = new CellCounts
    spark.sparkContext.register(acc)
    (rows(acc), () => acc.value)
  }

  /** Build (or resume building) the persisted index under `root`. Each
    * group's slice bulk-loads one packed tree per cell inside mapGroups —
    * the per-partition OMT build — and commits atomically via Checkpoint,
    * its manifest collected by the same job. Returns the base stage's
    * `(cell, n, tree)` table.
    */
  def build(spark: SparkSession, points: Dataset[PointRow], grid: CellGrid,
      root: String, nGroups: Int = 8): DataFrame = {
    import spark.implicits._
    val celled = points.map(p => (grid.cellId(p.x, p.y), p))
    commitStage(spark, root, "trees", nGroups) { g =>
      counted(spark) { acc =>
        celled.filter(_._1 % nGroups == g)
          .groupByKey(_._1)
          .mapGroups { (cell, it) =>
            val arr = it.map(_._2).toArray
            val tree = PointRTree2D.build(
              arr.map(_.id), arr.map(_.x), arr.map(_.y))
            acc.add((cell, arr.length.toLong))
            (cell, arr.length.toLong, treeBytes(tree))
          }
          .toDF("cell", "n", "tree")
      }
    }
  }

  /** A committed stage: its (gen, kindRank) order key, name, and the
    * committed groups' manifest file lengths (-1 when absent).
    */
  private final case class Stage(gen: Int, kindRank: Int, name: String,
      groups: Seq[(Int, Long)])

  /** Committed generations under `root`, oldest first. Three stage kinds:
    * the base `trees` stage (generation 0), appends `trees_g<k>` (k ≥ 1),
    * and compactions `trees_c<k>` — a compacted stage RECORDS the maximum
    * generation it subsumed, so it owns no number a future append could
    * want, and at equal k the compaction outranks the append (it already
    * contains it; matters when a stream replaying an old batchId
    * recreates a retired `trees_g<k>`). A stage counts only once it has
    * ≥ 1 committed group marker. kindRank is 1 for compactions, 0
    * otherwise; stages are ordered by (gen, kindRank).
    */
  private def generations(spark: SparkSession, root: String): Seq[Stage] = {
    val fs = hfs(spark, root)
    val rootP = new HPath(root)
    val names =
      if (!fs.exists(rootP)) Array.empty[String]
      else fs.listStatus(rootP).filter(_.isDirectory).map(_.getPath.getName)
        .filter(n => n == "trees" || n.matches("trees_[gc]\\d+"))
    names.toSeq
      .map { name =>
        val files = fs.listStatus(new HPath(root, name))
          .map(f => f.getPath.getName -> f.getLen).toMap
        val groups = files.keys.filter(_.startsWith("_done_"))
          .map(_.stripPrefix("_done_").toInt).toSeq.sorted
          .map(g => g -> files.getOrElse(s"_cells_$g", -1L))
        name match {
          case "trees" => Stage(0, 0, name, groups)
          case n if n.startsWith("trees_c") =>
            Stage(n.stripPrefix("trees_c").toInt, 1, n, groups)
          case n => Stage(n.stripPrefix("trees_g").toInt, 0, n, groups)
        }
      }
      .filter(_.groups.nonEmpty)
      .sortBy(st => (st.gen, st.kindRank))
  }

  /** Number of committed stages (base + appends + compactions) — the LSM
    * depth a maintenance scheduler triggers on; a probe unions at most
    * this many stage scans.
    */
  def generationCount(spark: SparkSession, root: String): Int =
    generations(spark, root).size

  /** Retire a stage crash-safely: the commit MARKERS go first, so a kill
    * mid-retirement leaves either an invisible orphan directory (markers
    * gone — `generations` no longer lists it) or a still-consistent
    * partial stage (surviving markers all still have their data); never a
    * stage whose markers promise data that was already deleted.
    */
  private def retireStage(spark: SparkSession, root: String,
      stage: String): Unit = {
    val fs = hfs(spark, root)
    val d = new HPath(root, stage)
    if (!fs.exists(d)) return
    fs.listStatus(d).filter(_.getPath.getName.startsWith("_done_"))
      .foreach(s => fs.delete(s.getPath, false))
    fs.delete(d, true)
  }

  /** A committed group's share of the latest-wins view: its parquet
    * directory, its manifest's cell count, and the cells it serves (the
    * ones no later stage holds) with their point counts.
    */
  private final case class Owned(stage: String, path: String, total: Int,
      cells: Array[Long], ns: Array[Long])

  /** Resolve latest-wins over `stages` on the driver: walking them newest
    * first in (gen, kindRank) order, each cell belongs to the first stage
    * whose manifest lists it. A group whose manifest is missing (a store
    * written before manifests existed, a hand-committed stage) or torn is
    * derived from a projected `(cell, n)` scan — one job for all of them.
    */
  private def resolve(spark: SparkSession, root: String,
      stages: Seq[Stage]): Seq[Owned] = {
    import spark.implicits._
    val fs = hfs(spark, root)
    val listed = stages.flatMap { st =>
      val dir = new HPath(root, st.name)
      st.groups.map { case (g, len) =>
        (st.name, new HPath(dir, s"group=$g").toString,
          readManifest(fs, new HPath(dir, s"_cells_$g"), len))
      }
    }
    val missing = listed.collect { case (_, path, None) => path }
    val derived =
      if (missing.isEmpty) Map.empty[String, CellHistogram]
      else missing
        .map(p => spark.read.schema(Schema).parquet(p)
          .select(lit(p), col("cell"), col("n")))
        .reduce(_.union(_))
        .as[(String, Long, Long)].collect()
        .groupBy(_._1).map { case (p, rows) =>
          p -> CellHistogram.of(rows.map(r => (r._2, r._3)))
        }
    val seen = mutable.HashSet.empty[Long]
    listed.reverse.map { case (stage, path, m0) =>
      val m = m0.orElse(derived.get(path)).getOrElse(CellHistogram.empty)
      val own = m.cells.indices.filter(i => seen.add(m.cells(i)))
      Owned(stage, path, m.cells.length, own.map(m.cells).toArray,
        own.map(m.ns).toArray)
    }.filter(_.cells.nonEmpty)
  }

  /** The owned groups of every committed stage; fails on an empty root. */
  private def served(spark: SparkSession, root: String): Seq[Owned] = {
    val stages = generations(spark, root)
    require(stages.nonEmpty, s"no committed index groups under $root")
    resolve(spark, root, stages)
  }

  /** The `(cell, n, tree)` rows of `owned` whose cell passes `keep`: per
    * stage, one parquet scan with the explicit schema over just the groups
    * holding such cells, unioned. With `pushIn` the scan filters an
    * `IN (cell, …)` the parquet reader can push down (for the few cells of
    * a probe's cover); otherwise a stage serving fewer cells than its
    * groups hold filters on a captured sorted array, since thousands of
    * `IN` literals cost far more to plan than the scan saves.
    */
  private def view(spark: SparkSession, owned: Seq[Owned],
      keep: Long => Boolean, pushIn: Boolean = false): DataFrame =
    owned.groupBy(_.stage).values.toSeq.sortBy(_.head.stage).flatMap { gs =>
      val sel = gs.map(o => o -> o.cells.filter(keep)).filter(_._2.nonEmpty)
      Option.when(sel.nonEmpty) {
        val cells = sel.flatMap(_._2).toArray.sorted
        val scan = spark.read.schema(Schema).parquet(sel.map(_._1.path): _*)
        if (pushIn) scan.where(col("cell").isin(cells.toSeq: _*))
        else if (cells.length == sel.map(_._1.total).sum) scan
        else scan.where(udf((c: Long) =>
          java.util.Arrays.binarySearch(cells, c) >= 0).apply(col("cell")))
      }
    }.reduceOption(_.union(_)).getOrElse(emptyTable(spark))

  /** The stored index table: latest generation wins per cell. An appended
    * cell's generation-k tree already holds the cell's FULL point set (the
    * append merged the prior tree before rebuilding), so the view is a
    * plain last-writer-wins — untouched cells keep serving their original
    * bytes, which never move (the LSM-style contract that makes appends
    * O(touched cells), not O(store), at 100 TB). The winners come from the
    * cell manifests on the driver, so the view is a union of parquet scans,
    * each restricted to the cells its stage still serves.
    */
  def table(spark: SparkSession, root: String): DataFrame =
    view(spark, served(spark, root), _ => true)

  /** C4 over the PERSISTED index — incremental append without touching
    * untouched cells: the new batch's cells are merged with their stored
    * trees (deserialize, concat point arrays, rebuild at bulk rate) and
    * committed as generation `gen`; every other cell's bytes stay exactly
    * where they are and keep serving. Group-committed through Checkpoint
    * like the base build, so a killed append resumes and a re-invocation
    * with the same `gen` is a no-op (marker-idempotent). The prior trees
    * of the touched cells are read straight from their stored groups,
    * chosen on the driver from the manifests and the batch's cell set, so
    * a commit group costs its write job and the exchanges it plans —
    * nothing is materialized between groups.
    *
    * Reference analog: bulk-then-insert (rstar/src/rtree.rs:1307-1371) —
    * here the insert unit is the cell, and the rebuilt cell tree is the
    * same packed OMT structure the base build produces, so probe paths
    * are generation-oblivious.
    */
  def append(spark: SparkSession, points: Dataset[PointRow], grid: CellGrid,
      root: String, gen: Int, nGroups: Int = 8): DataFrame = {
    require(gen >= 1, s"append generations start at 1, got $gen")
    import spark.implicits._
    val celled = points.map(p => (grid.cellId(p.x, p.y), p))
    // The base slice is planned on the driver: the latest-wins owners of
    // generations ≤ gen - 1 come from their manifests, and the batch's
    // distinct cells from one job with no shuffle (a per-partition set,
    // then collect; bounded by the grid, like the manifests every read
    // holds). Group g's base is then a scan of just the source groups
    // serving its touched cells. No stage ≤ gen - 1 leaves the base
    // empty: either a store seeded by append alone, or a stream REPLAYING
    // a batch whose generations a compaction already subsumed and retired
    // — this stage's rows are then outranked by the compacted stage
    // (kindRank), so the replay stays a no-op in the served view.
    // LAZY: only uncommitted groups' compute closures need them, so a
    // marker-idempotent re-invocation (every re-run of the persisted bench
    // queries, every stream batch replay) runs no job before skipping.
    lazy val prior =
      resolve(spark, root, generations(spark, root).filter(_.gen < gen))
    lazy val touched: Set[Long] = points.mapPartitions { it =>
      val seen = mutable.LongMap.empty[Unit]
      it.foreach(p => seen(grid.cellId(p.x, p.y)) = ())
      Iterator.single(seen.keys.toArray)
    }.collect().flatten.toSet
    commitStage(spark, root, s"trees_g$gen", nGroups) { g =>
      counted(spark) { acc =>
        val base = view(spark, prior, c => c % nGroups == g && touched(c))
        val newCells = celled.filter(_._1 % nGroups == g)
          .groupByKey(_._1)
          .mapGroups { (cell, it) =>
            val arr = it.map(_._2).toArray
            (cell, arr.map(_.id), arr.map(_.x), arr.map(_.y))
          }
          .toDF("cell", "ids", "xs", "ys")
        newCells.join(base.select(col("cell"), col("tree")), Seq("cell"), "left")
          .select(col("cell"), col("ids"), col("xs"), col("ys"), col("tree"))
          .as[(Long, Array[Long], Array[Double], Array[Double], Array[Byte])]
          .map { case (cell, ids, xs, ys, old) =>
            val (oi, ox, oy) =
              if (old == null)
                (Array.empty[Long], Array.empty[Double], Array.empty[Double])
              else { val t = treeFrom(old); (t.ids, t.xs, t.ys) }
            val tree = PointRTree2D.build(oi ++ ids, ox ++ xs, oy ++ ys)
            val n = (oi.length + ids.length).toLong
            acc.add((cell, n))
            (cell, n, treeBytes(tree))
          }
          .toDF("cell", "n", "tree")
      }
    }
    table(spark, root)
  }

  /** The stored trees of the served, non-empty cells among `cover`, read
    * by an `IN (cell, …)`-filtered scan of just the groups holding them.
    */
  private def coveredTrees(spark: SparkSession, root: String,
      cover: Seq[Long]): DataFrame = {
    val cells = cover.toSet
    view(spark, served(spark, root), cells.contains, pushIn = true)
      .select("tree")
  }

  /** F1 over the persisted index: prune the cell table to the query box's
    * covered cells (an `IN` predicate the parquet scan can push down — the
    * persisted analog of envelope-based subtree pruning), deserialize just
    * those trees, and probe point-in-box. One job. Output: (id, x, y).
    */
  def rangeQuery(spark: SparkSession, root: String, grid: CellGrid,
      qMinX: Double, qMinY: Double, qMaxX: Double, qMaxY: Double): DataFrame = {
    import spark.implicits._
    coveredTrees(spark, root,
      grid.cover(graft.geom.AABB.of2d(qMinX, qMinY, qMaxX, qMaxY)))
      .as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { bytes =>
          val t = treeFrom(bytes)
          val out = Vector.newBuilder[(Long, Double, Double)]
          t.foreachInBox(qMinX, qMinY, qMaxX, qMaxY) { p =>
            out += ((t.ids(p), t.xs(p), t.ys(p)))
          }
          out.result()
        }
      }
      .toDF("id", "x", "y")
  }

  /** Upper bound on a [[knnQuery]] batch: the batch is collected and its
    * covers are planned on the driver, so a larger one fails fast with a
    * contract message instead of a driver OOM mid-collect. A serving batch
    * is hundreds of queries; split a bigger one into batches.
    */
  val MaxKnnBatch: Long = 100L * 1000

  /** One query's k best (d2, id) pairs among those offered, ascending in
    * `Double.compare` order on d2, then id — the total order of the
    * `row_number` window the answer is numbered in. A pair offered twice
    * is kept twice, as the window keeps a repeated row.
    */
  private final class TopK(k: Int) extends Serializable {
    private var ds = new Array[Double](math.max(0, math.min(k, 16)))
    private var ids = new Array[Long](ds.length)
    private var n = 0

    private def before(d: Double, id: Long, j: Int): Boolean = {
      val c = java.lang.Double.compare(d, ds(j))
      c < 0 || (c == 0 && id < ids(j))
    }

    /** Insert (d, id) if it beats the k-th pair, which it then evicts. */
    def offer(d: Double, id: Long): Unit =
      if (n < k || before(d, id, n - 1)) {
        if (n == ds.length && n < k) {
          ds = java.util.Arrays.copyOf(ds, math.min(k, 2 * n))
          ids = java.util.Arrays.copyOf(ids, ds.length)
        }
        var j = math.min(n, k - 1)
        while (j > 0 && before(d, id, j - 1)) {
          ds(j) = ds(j - 1); ids(j) = ids(j - 1)
          j -= 1
        }
        ds(j) = d; ids(j) = id
        if (n < k) n += 1
      }

    def pairs: Iterator[(Double, Long)] = Iterator.range(0, n).map(j => (ds(j), ids(j)))
  }

  /** K1/J2 over the persisted index — the 100 TB cold-start serving path:
    * answer a kNN join by DESERIALIZING the stored per-cell trees and
    * probing them, never rebuilding (reference analog: serde round-trip
    * then query, rstar/src/rtree.rs:1289-1305). The driver collects the
    * batch (at most [[MaxKnnBatch]] queries; a local batch costs no job)
    * and bounds each query's cover from the cell manifests alone
    * ([[CellHistogram.knnCover]]). Then ONE job with no shuffle scans the
    * covered cells: each stored tree is deserialized once for all the
    * queries covering its cell and probed with ties kept, and each scan
    * partition cuts its queries' k best in (d2, id) order; the driver
    * merges those lists into each query's k best in the same order and
    * numbers them rn = 1..k. Per-cell probes keep float-exact boundary
    * ties, so the output is bit-equal to the in-memory kNN join on the
    * same inputs.
    *
    * The answer is computed when this is called, and returned as a local
    * relation `(qid, id, d2, rn int)`: collecting it runs no job. It is
    * held on the driver, so a batch whose answer could exceed
    * [[SpatialOps.MaxBroadcastLayerRows]] rows (batch × min(k, stored
    * points)) fails before the scan with a contract message.
    */
  def knnQuery(spark: SparkSession, root: String, grid: CellGrid,
      queries: Dataset[QueryRow], k: Int): DataFrame = {
    val owned = served(spark, root)
    val hist = CellHistogram.of(owned.flatMap(o => o.cells.zip(o.ns)))
    val batch = SpatialOps.collectBounded(queries, MaxKnnBatch)(
      s"knnQuery: query batch exceeds $MaxKnnBatch rows — the batch is " +
        "planned on the driver; split it into smaller batches")
    val stored = hist.ns.sum
    val held = batch.length * math.min(math.max(k, 0).toLong, stored)
    require(held <= SpatialOps.MaxBroadcastLayerRows,
      s"knnQuery: ${batch.length} queries × min(k = $k, $stored stored " +
        s"points) = $held answer rows exceed " +
        s"${SpatialOps.MaxBroadcastLayerRows} — the answer is merged on the " +
        "driver; split the batch into smaller batches")
    // each query under every cell of its cover, or under `everywhere`
    // when that cover is every cell
    val byCell = mutable.LongMap.empty[mutable.ArrayBuffer[QueryRow]]
    val everywhere = mutable.ArrayBuffer.empty[QueryRow]
    batch.foreach { q =>
      val cover = hist.knnCover(grid, k)(q.x, q.y)
      if (cover.length == hist.cells.length) everywhere += q
      else cover.foreach(byCell.getOrElseUpdate(_, mutable.ArrayBuffer.empty) += q)
    }
    // Lifetime: the scan job below is its only reader, so it is
    // destroyed as soon as that job ends.
    val planB = spark.sparkContext.broadcast(
      (byCell.map { case (c, qs) => c -> qs.toArray }.toMap, everywhere.toArray))
    val keep: Long => Boolean =
      if (everywhere.nonEmpty) _ => true else byCell.contains
    val scan = view(spark, owned, keep).select("cell", "tree").queryExecution.toRdd
    val parts = try spark.sparkContext.runJob(scan, (rows: Iterator[InternalRow]) => {
      val (cellQs, allQs) = planB.value
      val best = mutable.LongMap.empty[TopK]
      rows.foreach { r =>
        val qs = cellQs.getOrElse(r.getLong(0), Array.empty[QueryRow])
        val t = treeFrom(r.getBinary(1)) // once per stored tree, for all its queries
        def probe(q: QueryRow): Unit = {
          val top = best.getOrElseUpdate(q.qid, new TopK(k))
          t.nearestK(q.x, q.y, k, keepTies = true)((i, d2) => top.offer(d2, t.ids(i)))
        }
        qs.foreach(probe)
        allQs.foreach(probe)
      }
      best.toArray
    }) finally planB.destroy()
    val merged = mutable.LongMap.empty[TopK]
    parts.iterator.flatten.foreach { case (qid, top) =>
      val m = merged.getOrElseUpdate(qid, new TopK(k))
      top.pairs.foreach { case (d2, id) => m.offer(d2, id) }
    }
    import spark.implicits._
    merged.toSeq.flatMap { case (qid, top) =>
      top.pairs.zipWithIndex.map { case ((d2, id), i) => (qid, id, d2, i + 1) }
    }.toDF("qid", "id", "d2", "rn")
  }

  /** LSM COMPACTION for the generational store: materialize the
    * last-writer-wins view as ONE compacted stage `trees_c<m>` — m being
    * the maximum generation it subsumes, NOT a fresh number, so the
    * append sequence (e.g. streaming batchIds) is never stolen: a later
    * append at gen > m wins its cells as usual, and a stream REPLAYING a
    * retired batch ≤ m recreates a stage the compacted one outranks
    * (kindRank tiebreak). Old stages retire only after the full commit,
    * markers first ([[retireStage]]), so a crash anywhere leaves a store
    * every read still serves correctly; a partial compacted stage holds
    * cells identical to the view it was computed from, masked until the
    * next compaction subsumes it. Correctness never depends on a
    * compaction finishing — it is pure maintenance, exactly like an LSM
    * level merge. Group g reads only the source groups serving its cells,
    * so a compaction is O(store), never O(nGroups·store), and each group's
    * manifest is computed on the driver from the input manifests.
    */
  def compact(spark: SparkSession, root: String,
      nGroups: Int = 8): DataFrame = {
    val stages = generations(spark, root)
    require(stages.nonEmpty, s"no committed index groups under $root")
    if (stages.size == 1) return table(spark, root)
    val target = s"trees_c${stages.map(_.gen).max}"
    val owned = resolve(spark, root, stages)
    commitStage(spark, root, target, nGroups) { g =>
      val mine = (c: Long) => c % nGroups == g
      (view(spark, owned, mine), () => CellHistogram.of(owned.flatMap(o =>
        o.cells.zip(o.ns).filter(cn => mine(cn._1)))))
    }
    stages.filter(_.name != target)
      .foreach(st => retireStage(spark, root, st.name))
    table(spark, root)
  }

  /** F4 over the persisted index: within-distance probe of the covered
    * disc's cells. One job. Output: (id, d2).
    */
  def withinDistance(spark: SparkSession, root: String, grid: CellGrid,
      px: Double, py: Double, r2: Double): DataFrame = {
    import spark.implicits._
    val r = math.sqrt(r2)
    coveredTrees(spark, root,
      grid.cover(graft.geom.AABB.of2d(px - r, py - r, px + r, py + r)))
      .as[Array[Byte]]
      .mapPartitions { it =>
        it.flatMap { bytes =>
          val t = treeFrom(bytes)
          val out = Vector.newBuilder[(Long, Double)]
          t.foreachWithin(px, py, r2) { p =>
            val dx = t.xs(p) - px
            val dy = t.ys(p) - py
            out += ((t.ids(p), dx * dx + dy * dy))
          }
          out.result()
        }
      }
      .toDF("id", "d2")
  }
}
