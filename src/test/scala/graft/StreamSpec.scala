package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.PagesGen
import graft.engine.{PointRow, QueryRow, SpatialOps}
import graft.index.CellGrid
import graft.streaming.StreamOps

/** Streaming ingest: a batch of pages driven through the file-stream path
  * must produce exactly the batch pipeline's entity set and histogram
  * (stream/batch parity on identical input).
  */
class StreamSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-stream-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` on fresh temp dirs, one per prefix; afterwards, passed or
    * failed, stops any query still active, drops the memory tables `tables`
    * and deletes the dirs.
    */
  private def withTemp(prefixes: String*)(tables: String*)(
      body: Seq[String] => Unit): Unit = {
    val dirs = prefixes.map(
      java.nio.file.Files.createTempDirectory(_).toString)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    try body(dirs)
    finally {
      spark.streams.active.foreach(_.stop())
      tables.filter(spark.catalog.tableExists)
        .foreach(spark.catalog.dropTempView)
      dirs.foreach(d => rm(new java.io.File(d)))
    }
  }

  test("file-stream entities == batch entities; windowed cell counts match " +
    "batch histogram") {
    spark.sparkContext.setLogLevel("ERROR")
    withTemp("graft_stream")("cell_counts", "cell_counts_c") { case Seq(dir) =>
      val grid = CellGrid.lonLat(4)
      val pages = PagesGen.pages(spark, 1500, skewShare = 0.3)
      pages.write.mode("overwrite").parquet(dir)

      val entities = StreamOps.entityStream(spark, dir, grid)
      val q = StreamOps.cellCounts(entities)
        .writeStream.format("memory").queryName("cell_counts")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()

      // batch oracle over the very same files
      val batch = spark.read.parquet(dir)
        .withColumn("e", explode(PagesGen.entities(col("text"))))
        .select(graft.functions.SpatialFunctions.stCell(grid)(
          col("e.lon"), col("e.lat")).as("cell"))
        .groupBy("cell").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      // NOTE: append-mode windowed aggs only emit when the watermark passes a
      // window; with a single micro-batch nothing may emit, so run a second
      // complete-mode query for the value check.
      val q2 = StreamOps.cellCounts(StreamOps.entityStream(spark, dir, grid))
        .writeStream.format("memory").queryName("cell_counts_c")
        .outputMode("complete").start()
      q2.processAllAvailable()
      q2.stop()
      val got = spark.table("cell_counts_c")
        .groupBy("cell").agg(sum("cnt").as("cnt"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch)
      assert(batch.values.sum > 0)
    }
  }

  test("streaming box join == batch intersection join on the same input " +
    "(stateless stream-static equi-join)") {
    spark.sparkContext.setLogLevel("ERROR")
    withTemp("graft_stream_j")("tile_join") { case Seq(dir) =>
      val grid = CellGrid.lonLat(4)
      PagesGen.pages(spark, 800, skewShare = 0.3).write
        .mode("overwrite").parquet(dir)
      val tiles = PagesGen.tiles(spark, 500, maxW = 2.0)
        .select(col("tile_id").as("gid"), col("minX"), col("minY"),
          col("maxX"), col("maxY"))
        .localCheckpoint(true)

      val q = StreamOps.boxJoinStream(
          StreamOps.entityStream(spark, dir, grid)
            .select(col("url").as("id"), col("x"), col("y")), tiles, grid)
        .writeStream.format("memory").queryName("tile_join")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      // sorted sequences, not sets: a page's entities can repeat a pair, and
      // the join must emit each copy exactly once
      val got = spark.table("tile_join").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

      // batch oracle: same entities, brute-force containment join
      val ents = spark.read.parquet(dir)
        .withColumn("e", explode(PagesGen.entities(col("text"))))
        .select(col("url"), col("e.lon").as("x"), col("e.lat").as("y"))
      val want = ents.crossJoin(tiles)
        .where(col("x") >= col("minX") && col("x") <= col("maxX") &&
          col("y") >= col("minY") && col("y") <= col("maxY"))
        .select("url", "gid").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(got == want)
      assert(want.nonEmpty)
    }
  }

  test("streaming dedup (flatMapGroupsWithState): one keeper per distinct " +
    "text across micro-batches, min-id rule, n_chars == keeper code points") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val base = spark.range(300)
      .map(id => (id, PagesGen.pageFor(id, skewShare = 0.3).text))
      .toDF("doc_id", "text").localCheckpoint(true)
    // batch 1: originals + 60 in-batch duplicates under LARGER ids (the
    // min-id keeper rule must pick the originals)
    val dupIn1 = base.limit(60).withColumn("doc_id", col("doc_id") + 1000L)
    // batch 2: cross-batch duplicates under SMALLER ids — they arrive after
    // the state committed, so they must emit NOTHING (first-seen wins;
    // state, not a per-batch min, decides)
    val dupIn2 = base.limit(120).withColumn("doc_id", col("doc_id") - 1000L)
    val got = PipelineQueries.replayToMemory(spark, "dedup_spec", Nil,
        Seq(base.unionByName(dupIn1) -> dupIn2), "h")(
      s => StreamOps.dedupStreamDocs(spark, s.head))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val textOf = base.as[(Long, String)].collect().toMap
    // the batch oracle: min original id per distinct text
    val wantKeepers = textOf.groupBy(_._2).view.mapValues(_.keys.min).toMap
    // one keeper per distinct content, one row per content hash
    assert(got.length == wantKeepers.size)
    assert(got.map(_._1).distinct.length == got.length)
    // every keeper is an original id (no dup1/dup2 id ever won) and
    // exactly the batch oracle's choice for its text
    assert(got.map(_._2).toSet == wantKeepers.values.toSet)
    got.foreach { case (_, k, n) =>
      val t = textOf(k)
      assert(wantKeepers(t) == k)
      assert(n == t.codePointCount(0, t.length).toLong)
    }
  }

  test("replay harness teardown: a batch-2 failure reaches the caller and " +
    "leaves no query, conf override, memory table or temp dir behind") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled")
    val confBefore = keys.map(k => k -> spark.conf.get(k))
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def probeDirs(): Set[String] =
      tmp.listFiles().map(_.getName).filter(_.startsWith("teardown_probe")).toSet
    val dirsBefore = probeDirs()
    var seen: PipelineQueries.Replay = null
    val err = intercept[Exception] {
      PipelineQueries.replayStream(spark, "teardown_probe",
          Seq(keys(0) -> "3", keys(1) -> "false"),
          Seq(Seq(1L, 2L).toDF("v") -> Seq(3L).toDF("v")))(
        (s, r) => {
          seen = r
          s.head.as[Long].map { v => require(v < 3L, s"poison row $v"); v }
            .toDF("v").writeStream.format("memory").queryName(r.name)
            .outputMode("append")
        })(
        r => spark.table(r.name))
    }
    // the operator's own failure, not a teardown error, reaches the caller
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("poison row 3")), err)
    assert(seen != null, "the failure must come after the stream started")
    assert(spark.streams.active.isEmpty)
    assert(keys.map(k => k -> spark.conf.get(k)) == confBefore)
    assert(!spark.catalog.tableExists(seen.name))
    assert(!new java.io.File(seen.root).exists())
    assert(probeDirs() == dirsBefore)
  }

  test("streaming sessionization (flatMapGroupsWithState): closed sessions " +
    "across micro-batches == batch minus each user's open session; a " +
    "session SPANNING the batch cut survives the state merge") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    withTemp("graft_stream_ss", "graft_stream_ssc")("sess_stream") {
      case Seq(dir, ckpt) =>
        def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
        // u1: s1 [0,60]; s2 starts in batch 1 (4000,4060), CONTINUES in batch 2
        //     (5010 — within the 1800 s gap), then 9000 opens s3 and closes s2;
        // u2: one session only (1900-100 == the exact gap stays in-session);
        // u3: batch-2 only, two sessions (gap 3000), the second stays open.
        val b1 = Seq((1L, 101L, ts(0)), (1L, 102L, ts(60)),
          (1L, 103L, ts(4000)), (1L, 104L, ts(4060)),
          (2L, 201L, ts(100)), (2L, 202L, ts(1900)))
        val b2 = Seq((1L, 105L, ts(5010)), (1L, 106L, ts(9000)),
          (3L, 301L, ts(6000)), (3L, 302L, ts(9000)))
        b1.toDF("user_id", "event_id", "ts").write.mode("overwrite").parquet(dir)
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType)))
        val q = StreamOps.sessionizeStream(spark,
            spark.readStream.schema(schema).parquet(dir), gapSec = 1800L)
          .writeStream.format("memory").queryName("sess_stream")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        q.processAllAvailable()
        // one file, so batch 2 lands in one micro-batch: the running query
        // can list a multi-file append half-committed and fold user 1's
        // 9000 s event before its 5010 s one, which breaks the operator's
        // per-user monotone-time contract instead of testing the merge
        b2.toDF("user_id", "event_id", "ts").coalesce(1)
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
        q.stop()
        val got = spark.table("sess_stream").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4))).toSet
        // batch oracle over the union, minus each user's last (open) session
        val batch = graft.pipeline.PipelineOps.sessionize(
          (b1 ++ b2).toDF("user_id", "event_id", "ts"), 1800L).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4)))
        val lastIdx = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        val want = batch.filter(s => s._2 < lastIdx(s._1)).toSet
        assert(got == want)
        // the spanning session came out MERGED: 3 events, start 4000 s, dur 1010 s
        assert(got.contains((1L, 2L, 3L, 4000000000L, 1010000000L)))
        // u2's only session is still open: nothing emitted for u2
        assert(!got.exists(_._1 == 2L))
    }
  }

  test("streaming 1-NN against a broadcast static layer == batch kNN join") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    withTemp("graft_stream_nn")("nn_stream") { case Seq(dir) =>
      PagesGen.pages(spark, 500, skewShare = 0.3).write
        .mode("overwrite").parquet(dir)
      val n = 3000
      val ids = Array.tabulate(n)(_.toLong)
      val xs = Array.tabulate(n)(i => PagesGen.uniform(i, 11) * 360.0 - 180.0)
      val ys = Array.tabulate(n)(i => PagesGen.uniform(i, 12) * 170.0 - 85.0)

      val grid = CellGrid.lonLat(4)
      val q = StreamOps.nnStream(spark,
          StreamOps.entityStream(spark, dir, grid), ids, xs, ys)
        .writeStream.format("memory").queryName("nn_stream")
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()
      val got = spark.table("nn_stream").collect()
        .map(r => ((r.getString(0), r.getDouble(1), r.getDouble(2)),
          (r.getLong(3), r.getDouble(4))))
        .toMap

      // batch oracle: grid kNN join (itself oracle-proven) over the same input
      val ents = spark.read.parquet(dir)
        .withColumn("e", explode(PagesGen.entities(col("text"))))
        .select(col("url"), col("e.lon").as("x"), col("e.lat").as("y"))
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val pois = (0 until n).map(i => PointRow(ids(i), xs(i), ys(i))).toDS()
      val queries = ents.zipWithIndex
        .map { case ((_, x, y), i) => QueryRow(i.toLong, x, y) }.toSeq.toDS()
      val batchNN = SpatialOps.knnJoin(queries, pois, 1, grid)
        .select("qid", "id", "d2").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // both break ties by (d2, id): ids and float-exact distances agree
      ents.zipWithIndex.foreach { case ((url, x, y), i) =>
        val (gotId, gotD2) = got((url, x, y))
        val (wantId, wantD2) = batchNN(i.toLong)
        assert(gotD2 == wantD2, s"d2 mismatch at $url: $gotD2 vs $wantD2")
        assert(gotId == wantId, s"id mismatch at $url: $gotId vs $wantId")
      }
      assert(ents.nonEmpty)
    }
  }

  test("watermarked windowed cellCounts: a late row beyond the watermark is " +
    "DROPPED; windows the watermark passed are finalized and emitted") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    withTemp("graft_stream_w", "graft_stream_wc")("wm_counts") {
      case Seq(dir, ckpt) =>
        def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
        // batch 1: rows at 0:30, 1:30, and 10:00 (the max — watermark becomes
        // 8:00 with the 2h delay)
        val b1 = Seq((ts(30), 1.0, 1.0), (ts(90), 2.0, 2.0), (ts(600), 3.0, 3.0))
          .toDF("warc_ts", "x", "y")
        b1.write.mode("overwrite").parquet(dir)
        val schema = b1.schema
        val grid = CellGrid.lonLat(4)
        val stream = spark.readStream.schema(schema).parquet(dir)
          .withColumn("cell",
            graft.functions.SpatialFunctions.stCell(grid)(col("x"), col("y")))
        val q = StreamOps.cellCounts(stream, "1 hour", "2 hours")
          .writeStream.format("memory").queryName("wm_counts")
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
        q.processAllAvailable()
        // batch 2: a LATE row at 0:45 (its window [0:00,1:00) closed at
        // watermark 8:00 — must be dropped) and an on-time row at 9:30 (window
        // end 10:00 > watermark — aggregated but not yet finalized)
        Seq((ts(45), 1.0, 1.0), (ts(570), 4.0, 4.0))
          .toDF("warc_ts", "x", "y").write.mode("append").parquet(dir)
        q.processAllAvailable()
        q.stop()
        val got = spark.table("wm_counts")
          .select(col("win_start"), col("cnt")).collect()
          .map(r => (r.getTimestamp(0).getTime / 60000L, r.getLong(1))).toMap
        // exactly the two closed windows; the 0:00 window counts ONE row — the
        // late 0:45 arrival was dropped, not merged
        assert(got == Map(0L -> 1L, 60L -> 1L), s"got $got")
    }
  }

  test("streaming index sink: two micro-batches build + append the " +
    "persisted store; probes == a flat build over everything") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.engine.{IndexStore, PointRow}
    withTemp("graft_sidx", "graft_sidx_c", "graft_sidx_r", "graft_sidx_f")() {
      case Seq(dir, ckpt, root, rootF) =>
        val grid = CellGrid.lonLat(4)
        def pts(lo: Long, hi: Long) = spark.range(lo, hi).map { id =>
          PointRow(id,
            graft.data.PagesGen.uniform(id, 1) * 360.0 - 180.0,
            graft.data.PagesGen.uniform(id, 2) * 170.0 - 85.0)
        }
        pts(0, 3000).toDF().write.mode("overwrite").parquet(dir)
        val schema = pts(0, 1).toDF().schema
        val q = StreamOps.indexSink(
            spark.readStream.schema(schema).parquet(dir), grid, root, nGroups = 4)
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable() // batch 0: base build
        pts(3000, 4000).toDF().write.mode("append").parquet(dir)
        q.processAllAvailable() // batch 1: generational append
        q.stop()
        // generation 1 exists and the served view equals a flat build
        assert(new java.io.File(s"$root/trees_g1").isDirectory,
          "batch 1 must land as generation 1, not a rebuild")
        IndexStore.build(spark, pts(0, 4000), grid, rootF, nGroups = 4)
        def rq(r: String) = IndexStore.rangeQuery(spark, r, grid,
            -170.0, -80.0, 170.0, 80.0)
          .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
          .toSet
        assert(rq(root) == rq(rootF))
        assert(rq(root).nonEmpty)
    }
  }

  test("index sink compaction scheduling: the stage count triggers the LSM " +
    "merge mid-stream, retires the olds, and probes stay exact") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.engine.{IndexStore, PointRow}
    withTemp("graft_sidc", "graft_sidc_c", "graft_sidc_r", "graft_sidc_f")() {
      case Seq(dir, ckpt, root, rootF) =>
        val grid = CellGrid.lonLat(4)
        def pts(lo: Long, hi: Long) = spark.range(lo, hi).map { id =>
          PointRow(id,
            graft.data.PagesGen.uniform(id, 1) * 360.0 - 180.0,
            graft.data.PagesGen.uniform(id, 2) * 170.0 - 85.0)
        }
        pts(0, 1500).toDF().write.mode("overwrite").parquet(dir)
        val schema = pts(0, 1).toDF().schema
        val q = StreamOps.indexSink(
            spark.readStream.schema(schema).parquet(dir), grid, root,
            nGroups = 2, compactEvery = 3)
          .option("checkpointLocation", ckpt)
          .start()
        q.processAllAvailable() // batch 0: base build (1 stage)
        def stages(): Seq[String] = new java.io.File(root).listFiles()
          .filter(_.isDirectory).map(_.getName)
          .filter(n => n == "trees" || n.startsWith("trees_")).sorted.toSeq
        (1 to 5).foreach { k =>
          pts(1500 + 500 * (k - 1), 1500 + 500 * k).toDF()
            .write.mode("append").parquet(dir)
          q.processAllAvailable()
        }
        q.stop()
        // the scheduler must have fired: at least one compaction stage exists,
        // the retired generations are gone, and the LSM depth stays bounded by
        // the trigger (the file source may split the six writes into more
        // micro-batches than one each, so assert structure, not stage names)
        val s = stages()
        assert(s.exists(_.startsWith("trees_c")),
          s"no compaction stage ever committed: $s")
        assert(!s.contains("trees") && !s.contains("trees_g1"),
          s"early generations must be retired: $s")
        assert(IndexStore.generationCount(spark, root) <= 3,
          s"LSM depth must stay bounded by the trigger, got $s")
        // probes after mid-stream compactions == a flat build over everything
        IndexStore.build(spark, pts(0, 4000), grid, rootF, nGroups = 2)
        def rq(r: String) = IndexStore.rangeQuery(spark, r, grid,
            -170.0, -80.0, 170.0, 80.0)
          .collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
          .toSet
        assert(rq(root) == rq(rootF))
        assert(rq(root).nonEmpty)
    }
  }

  test("stream-stream interval join: emitted pairs == batch interval " +
    "join, including a pair that crosses the micro-batch boundary " +
    "through the buffered join state") {
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val got = PipelineQueries.streamJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val c = ev.where(col("event_type") === "click").select(
      col("event_id").as("click_id"),
      col("ts").cast("timestamp").as("cts"), col("user_id"))
    val v = ev.where(col("event_type") === "view").select(
      col("event_id").as("view_id"),
      col("ts").cast("timestamp").as("vts"), col("user_id").as("vu"))
    val batch = c.join(v, expr(
      "user_id = vu AND vts >= cts - INTERVAL 7200 SECOND AND vts <= cts"))
      .select(col("click_id"), col("view_id"), col("user_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("lag_us"),
        unix_micros(col("vts")).as("vus"), unix_micros(col("cts")).as("cus"))
      .collect()
    val want = batch.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == want.length)
    assert(got.toSet == want.toSet)
    val cutUs = 1704979170113231L // the query's batch boundary
    val crossing = batch.count(r => r.getLong(4) < cutUs && cutUs <= r.getLong(5))
    assert(crossing >= 1,
      "fixture must contain a pair straddling the batch boundary — " +
        "otherwise the test cannot distinguish stateful from per-batch joins")
  }
}
