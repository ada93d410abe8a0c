package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.data.PagesGen
import graft.functions.SpatialFunctions.stCell
import graft.index.CellGrid

/** Structured Streaming ingest for the engine (beyond the reference's
  * batch-only scope — rstar has no streams, SURVEY.md §2.8 — but a crawl
  * pipeline ingests continuously): pages arrive as files, geo-entities are
  * extracted with the same built-in expressions as the batch path, and
  * per-cell windowed counts feed the hot-cell monitor that drives salting
  * decisions. Watermarking bounds state; output is append-mode so every
  * sink (parquet/kafka/memory) works.
  */
object StreamOps {

  val pagesSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = false),
    StructField("html", BinaryType),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType)))

  /** File stream of pages → exploded entity stream with cell ids. The
    * extraction expression is shared with the batch path (PagesGen.entities)
    * so batch and stream agree byte-for-byte on the same input.
    */
  def entityStream(spark: SparkSession, dir: String, grid: CellGrid): DataFrame =
    spark.readStream
      .schema(pagesSchema)
      .parquet(dir)
      .withColumn("e", explode(PagesGen.entities(col("text"))))
      .select(col("url"), col("warc_ts"),
        col("e.lon").as("x"), col("e.lat").as("y"))
      .withColumn("cell", stCell(grid)(col("x"), col("y")))

  /** Streaming J1: a streaming point table (id, x, y) joined against a
    * static rect layer (gid, minX, minY, maxX, maxY) — stateless
    * stream-static cell equi-join + closed-interval containment,
    * append-mode, no watermark needed. Each qualifying (point, rect) pair
    * is emitted exactly once: the point carries ONE cell, so the rect's
    * multi-cell explode never duplicates a pair.
    */
  def boxJoinStream(points: DataFrame, rects: DataFrame,
      grid: CellGrid): DataFrame = {
    import graft.functions.SpatialFunctions.{stContainsPoint, stCoverCells}
    val rectCelled = rects.select(
      col("gid"), col("minX"), col("minY"), col("maxX"), col("maxY"),
      explode(stCoverCells(grid)(
        col("minX"), col("minY"), col("maxX"), col("maxY"))).as("cell"))
    points.withColumn("cell", stCell(grid)(col("x"), col("y")))
      .join(rectCelled, Seq("cell"))
      .where(stContainsPoint(
        col("minX"), col("minY"), col("maxX"), col("maxY"),
        col("x"), col("y")))
      .select(col("id"), col("gid"))
  }

  /** Streaming K1 against a bounded static layer: exact 1-NN of every
    * streamed entity, probing a broadcast packed tree ([[graft.index.PointRTree2D]])
    * inside a deterministic typed map — the streaming analog of the
    * reference's `nearest_neighbor` loop. The nearest is the least by
    * (d2, id), [[graft.engine.SpatialOps.knnJoinBroadcast]]'s tiebreak,
    * so the answer does not depend on the tree's point order. For layers
    * too large to broadcast, route the stream through micro-batch
    * `foreachBatch` into the grid kNN join instead; this operator is the
    * low-latency bounded-layer path (POI layers, beacon sets).
    */
  def nnStream(spark: SparkSession, entities: DataFrame,
      ids: Array[Long], xs: Array[Double], ys: Array[Double]): DataFrame = {
    import spark.implicits._
    // Lifetime: captured by the streaming plan, which every micro-batch of
    // every query started on it runs again, so never destroyed eagerly;
    // ContextCleaner frees it once that plan is unreferenced.
    val treeB = spark.sparkContext.broadcast(
      graft.index.PointRTree2D.build(ids, xs, ys))
    entities.select(col("url"), col("x"), col("y"))
      .as[(String, Double, Double)]
      .map { case (url, x, y) =>
        val t = treeB.value
        var found = false
        var bestId = -1L
        var bestD2 = Double.MaxValue
        // every point tied at the minimum comes back; keep the least
        // (d2, id) in Double.compare order, knnJoinBroadcast's tiebreak
        t.nearestK(x, y, 1, keepTies = true) { (p, d2) =>
          val id = t.ids(p)
          val c = java.lang.Double.compare(d2, bestD2)
          if (!found || c < 0 || (c == 0 && id < bestId)) {
            bestId = id; bestD2 = d2; found = true
          }
        }
        (url, x, y, bestId, bestD2)
      }
      .toDF("url", "x", "y", "nn_id", "nn_d2")
  }

  /** Streaming exact dedup with EXPLICIT custom state
    * (`flatMapGroupsWithState` over `KeyValueGroupedDataset`) on
    * (doc_id, text) rows: key = the 128-bit content hash, state = the
    * keeper id chosen when the hash was first seen. The first batch
    * containing a hash emits exactly one row, the min-id copy (the batch
    * keeper rule of [[graft.pipeline.PipelineOps.exactDupGroups]]); every
    * later arrival of the same content, within or across micro-batches, is
    * swallowed by the state lookup. Output (h, keeper, n_chars).
    *
    * Scale notes: this is the standard streaming-dedup design — state
    * lives in the per-partition state store (RocksDB/HDFS-backed on a real
    * cluster), keyed and shuffled by the short hash only, one ~16-byte
    * entry per DISTINCT content. `dropDuplicates` would give the insertion
    * semantics but not the keeper bookkeeping; the explicit GroupState
    * carries it, and a TTL (`GroupStateTimeout.ProcessingTimeTimeout` +
    * `setTimeoutDuration`) slots in where the retention window is bounded.
    */
  def dedupStreamDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs
      .select(col("doc_id"), col("text"),
        md5(col("text").cast("binary")).as("h"))
      .as[(Long, String, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (h: String, rows: Iterator[(Long, String, String)],
            state: GroupState[Long]) =>
          if (state.exists) Iterator.empty // content already kept
          else {
            val keeper = rows.minBy(_._1) // deterministic: min id wins
            state.update(keeper._1)
            // codePointCount == SQL LENGTH (characters, not UTF-16 units)
            Iterator((h, keeper._1,
              keeper._2.codePointCount(0, keeper._2.length).toLong))
          }
      }
      .toDF("h", "keeper", "n_chars")
  }

  /** Streaming gap-based sessionization with explicit custom state: key =
    * user, state = the OPEN session (start, last-seen, count, index) — four
    * longs per active user, the textbook bounded-state shape. Each batch
    * folds the user's new events in time order; an event more than
    * `gapSec` past the last-seen CLOSES the open session (emitted, append
    * mode, exactly once) and opens the next. The final session per user is
    * never emitted — the stream cannot know it is over; bound it with a
    * state timeout (`ProcessingTimeTimeout` flush) where completeness
    * matters more than latency.
    *
    * Ordering contract: per-user event time must be monotone ACROSS
    * micro-batches (replayed time-ordered logs; enforce upstream with a
    * watermark + sort inside `foreachBatch` otherwise). WITHIN a batch the
    * group iterator is unordered and is sorted here — per user per batch,
    * bounded by the micro-batch, never the stream.
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
      gapSec: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapSec * 1000000L
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("tus"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long),
        (Long, Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long)],
            state: GroupState[(Long, Long, Long, Long)]) =>
          var (startUs, lastUs, n, idx) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L))
          val out =
            scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long)]
          rows.toArray.sortBy(r => (r._3, r._2)).foreach { case (_, _, tus) =>
            // enforce the cross-batch ordering contract LOUDLY: a stale
            // event would otherwise move last-seen backwards and silently
            // split or mis-close sessions (corrupt output, not an error)
            require(n == 0L || tus >= lastUs,
              s"sessionizeStream: event time $tus for user $user regressed " +
                s"below the open session's last-seen $lastUs — per-user " +
                "event time must be monotone across micro-batches " +
                "(sort/watermark upstream)")
            if (n == 0L) { startUs = tus; lastUs = tus; n = 1L; idx = 1L }
            else if (tus - lastUs > gapUs) {
              out += ((user, idx, n, startUs, lastUs - startUs))
              idx += 1L; startUs = tus; lastUs = tus; n = 1L
            } else { lastUs = tus; n += 1L }
          }
          state.update((startUs, lastUs, n, idx))
          out.iterator
      }
      .toDF("user_id", "sess_idx", "n_events", "start_us", "dur_us")
  }

  /** Watermarked tumbling-window per-cell entity counts — the streaming
    * form of the build histogram (C2 stage 1): late pages beyond the
    * watermark are dropped, state stays bounded.
    */
  def cellCounts(entities: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    entities
      .withWatermark("warc_ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("warc_ts"), window)
        .as("w"), col("cell"))
      .agg(count(lit(1)).as("cnt"),
        min("x").as("min_x"), min("y").as("min_y"),
        max("x").as("max_x"), max("y").as("max_y"))
      .select(col("w.start").as("win_start"), col("cell"), col("cnt"),
        col("min_x"), col("min_y"), col("max_x"), col("max_y"))

  /** Watermarked STREAM-STREAM interval join — the attribution join
    * (every click matched to the same user's views in the preceding
    * `maxLagSec` window) as a genuine two-stream stateful join, the one
    * streaming operator class a stream-static rewrite cannot express:
    * BOTH sides buffer in the state store until the other side's matches
    * can no longer arrive. The time-range predicate plus the two
    * watermarks is exactly what lets Spark derive per-side state
    * watermarks and evict — without the range condition an inner
    * stream-stream join retains state forever, the canonical unbounded-
    * state bug. State per side is bounded by (watermark delay + lag
    * window) × arrival rate, keyed and shuffled on `user_id` only.
    *
    * Contract: `watermarkDelay` must exceed the lag window by the
    * arrival slack, so a right-side row is still in state when its last
    * possible left match arrives (delay − lag > max cross-batch
    * disorder); under that contract the emitted set equals the BATCH
    * interval join — the oracle — with in-order replay. Inner append-mode
    * join: pairs emit as soon as both sides are present.
    */
  def intervalJoinStream(clicks: DataFrame, views: DataFrame,
      maxLagSec: Long, watermarkDelay: String = "4 hours"): DataFrame = {
    val l = clicks
      .select(col("event_id").as("click_id"), col("ts").as("cts"),
        col("user_id"))
      .withWatermark("cts", watermarkDelay)
    val r = views
      .select(col("event_id").as("view_id"), col("ts").as("vts"),
        col("user_id").as("v_user"))
      .withWatermark("vts", watermarkDelay)
    l.join(r, expr(
      s"""user_id = v_user AND
         |vts >= cts - INTERVAL $maxLagSec SECOND AND
         |vts <= cts""".stripMargin))
      .select(col("click_id"), col("view_id"), col("user_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("lag_us"))
  }

  /** STREAMING INDEX MAINTENANCE — the full serving loop (ingest → index
    * → serve): every micro-batch of an (id, x, y) point stream is
    * committed into the PERSISTED generational index at `root` via
    * `foreachBatch` — batch 0 bulk-builds the base store, batch k ≥ 1
    * runs [[graft.engine.IndexStore.append]] as generation k (touched
    * cells merge-rebuild, untouched bytes never move). Queries serve from
    * the store between and during batches with zero rebuild.
    *
    * Exactly-once across failures comes from composing the two engines'
    * contracts: Structured Streaming replays an uncommitted micro-batch
    * with the SAME batchId, and a generation commit is marker-idempotent
    * per group (Checkpoint), so a replayed batch re-runs only its
    * uncommitted groups — the standard idempotent-sink pattern with the
    * generation number as the batch fence.
    *
    * COMPACTION SCHEDULING: every probe unions the committed stages
    * before latest-wins, so an unbounded append stream degrades reads
    * linearly in batch count. When the store reaches `compactEvery`
    * committed stages, the sink runs [[graft.engine.IndexStore.compact]]
    * inside the same `foreachBatch` — the LSM merge amortized over the
    * stream. Crash-safety is inherited, not new: a kill mid-compaction
    * leaves a masked partial stage the next trigger subsumes, and a
    * replayed batch whose generations were compacted away is dominated
    * by the compacted stage (kindRank). `compactEvery = 0` disables.
    */
  def indexSink(points: DataFrame, grid: CellGrid, root: String,
      nGroups: Int = 8, compactEvery: Int = 8): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    points.writeStream.foreachBatch { (df: DataFrame, batchId: Long) =>
      val spark = df.sparkSession
      import spark.implicits._
      val pts = df.select(col("id"), col("x"), col("y"))
        .as[graft.engine.PointRow]
      if (batchId == 0L)
        graft.engine.IndexStore.build(spark, pts, grid, root, nGroups)
      else
        graft.engine.IndexStore.append(spark, pts, grid, root,
          gen = batchId.toInt, nGroups)
      if (compactEvery > 0 &&
          graft.engine.IndexStore.generationCount(spark, root) >= compactEvery)
        graft.engine.IndexStore.compact(spark, root, nGroups)
      ()
    }
}
