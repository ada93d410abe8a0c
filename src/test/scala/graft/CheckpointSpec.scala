package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.data.PagesGen
import graft.engine.Checkpoint
import graft.index.CellGrid

/** Kill/resume semantics of the checkpoint layer: a stage that dies mid-run
  * resumes at group granularity — completed groups are never recomputed,
  * interrupted groups leave no partial output, lineage records every
  * committed group (north_rule resumability).
  */
class CheckpointSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-checkpoint-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("killed build resumes at group granularity; output complete and lineage full") {
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft_cp").toString
    val grid = CellGrid.lonLat(4)
    val pages = PagesGen.pages(spark, 2000, skewShare = 0.3).toDF().cache()
    val nGroups = 6

    // full, uninterrupted reference run in a separate root
    val rootRef = java.nio.file.Files.createTempDirectory("graft_cp_ref").toString
    val want = Checkpoint.buildEntityIndex(spark, pages, grid, rootRef, nGroups)
      .select("url", "x", "y").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet

    // interrupted run: fail while computing group 3 (after 0..2 committed)
    val cp = new Checkpoint(spark, root)
    val computed = scala.collection.mutable.ArrayBuffer.empty[Int]
    import graft.functions.SpatialFunctions.stCell
    val entities = pages
      .withColumn("e", explode(PagesGen.entities(col("text"))))
      .select(col("url"), col("e.lon").as("x"), col("e.lat").as("y"))
      .withColumn("cell", stCell(grid)(col("x"), col("y")))
    def slice(g: Int) = entities.where(pmod(col("cell"), lit(nGroups)) === g)

    intercept[RuntimeException] {
      cp.runStage("entities", nGroups, { g =>
        computed += g
        if (g == 3) throw new RuntimeException("simulated kill")
        slice(g)
      }, xCol = "x", yCol = "y")
    }
    assert(cp.completedGroups("entities") == Set(0, 1, 2))
    val firstRun = computed.toList

    // resume: groups 0..2 must NOT recompute; 3..5 must
    computed.clear()
    val got = cp.runStage("entities", nGroups, { g =>
      computed += g
      slice(g)
    }, xCol = "x", yCol = "y")
    assert(computed.toList == List(3, 4, 5),
      s"resume recomputed wrong groups: first=$firstRun resume=${computed.toList}")
    assert(cp.completedGroups("entities") == (0 until nGroups).toSet)

    val gotSet = got.select("url", "x", "y").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(gotSet == want)

    // lineage: one row per group, row counts sum to output size
    val lin = cp.lineage().where(col("stage") === "entities")
    assert(lin.count() == nGroups)
    assert(lin.agg(sum("rows")).collect()(0).getLong(0) == want.size)
    // per-group envelopes are real numbers within the grid domain
    val env = lin.select("min_x", "max_x").collect()
    env.foreach { r =>
      assert(!r.getDouble(0).isNaN && r.getDouble(0) >= -180.0)
      assert(r.getDouble(1) <= 180.0)
    }
    pages.unpersist()
  }

  test("persisted index table: kill/resume over serialized trees; probes " +
    "answer from stored bytes and match a brute scan") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.engine.{IndexStore, PointRow, SpatialOps}
    val root = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val grid = CellGrid.lonLat(4)
    val pts = spark.range(5000).map { id =>
      PointRow(id,
        PagesGen.uniform(id, 1) * 360.0 - 180.0,
        PagesGen.uniform(id, 2) * 170.0 - 85.0)
    }
    IndexStore.build(spark, pts, grid, root, nGroups = 6)

    // probe from the stored table == brute range scan
    val (bx0, by0, bx1, by1) = (-50.0, -30.0, 60.0, 45.0)
    def probe() = IndexStore.rangeQuery(spark, root, grid, bx0, by0, bx1, by1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val want = pts.collect().filter(p =>
      p.x >= bx0 && p.x <= bx1 && p.y >= by0 && p.y <= by1)
      .map(p => (p.id, p.x, p.y)).toSet
    assert(probe() == want)
    assert(want.nonEmpty)

    // within-distance probe over stored trees == brute
    val wd = IndexStore.withinDistance(spark, root, grid, 10.0, 10.0, 900.0)
      .collect().map(r => r.getLong(0)).toSet
    val wantWd = pts.collect().filter { p =>
      val dx = p.x - 10.0; val dy = p.y - 10.0
      dx * dx + dy * dy <= 900.0
    }.map(_.id).toSet
    assert(wd == wantWd)

    // kill/resume: drop one committed group (marker + data); rebuild must
    // recompute ONLY that group and restore identical probe results
    val cp = new Checkpoint(spark, root)
    val victim = 3
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(root, "trees", s"_done_$victim"))
    def rmrf(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.delete(f))
      }
    rmrf(java.nio.file.Paths.get(root, "trees", s"group=$victim"))
    assert(cp.completedGroups("trees") == Set(0, 1, 2, 4, 5))
    // record other groups' file fingerprints: resume must not rewrite them
    import scala.jdk.CollectionConverters._
    def fingerprints(): Map[Int, Set[String]] =
      (Set(0, 1, 2, 4, 5)).map { g =>
        val d = java.nio.file.Paths.get(root, "trees", s"group=$g")
        g -> java.nio.file.Files.list(d).iterator().asScala
          .map(f => f.getFileName.toString + ":" +
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .toSet
      }.toMap
    val before = fingerprints()
    IndexStore.build(spark, pts, grid, root, nGroups = 6)
    assert(cp.completedGroups("trees") == (0 until 6).toSet)
    assert(fingerprints() == before, "resume rewrote committed groups")
    assert(probe() == want)

    // lineage: latest attempt per group only — victim appears once
    val lin = cp.lineage().where(col("stage") === "trees")
    assert(lin.count() == 6)
  }

  test("rerunning a fully-committed stage recomputes nothing") {
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft_cp2").toString
    val cp = new Checkpoint(spark, root)
    import spark.implicits._
    val df = spark.range(100).select(col("id"), (col("id") % 4).as("g"))
    var calls = 0
    def run() = cp.runStage("s", 4, { g =>
      calls += 1; df.where(col("g") === g)
    })
    assert(run().count() == 100)
    assert(calls == 4)
    assert(run().count() == 100)
    assert(calls == 4, "fully-committed stage must be a pure read")
  }

  test("lineage migrates pre-committed_ms checkpoints: old-schema rows " +
    "order by their ISO instants, mixed files coalesce") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cp3").toString
    // an OLD-format _lineage written before committed_ms existed: two
    // attempts of the same group whose ISO strings sort WRONG
    // lexicographically — "...05Z" compares AFTER "...05.500Z" ('Z' > '.')
    // although 5.0 s precedes 5.5 s — exactly the bug the millis column
    // fixed; migration must still pick the chronologically later attempt
    Seq(
      ("s", 0, 99L, "2026-01-01T00:00:05Z", 2L),      // earlier instant, lex-larger
      ("s", 0, 10L, "2026-01-01T00:00:05.500Z", 1L))  // later instant
      .toDF("stage", "grp", "rows", "committed_at", "attempt")
      .write.mode("overwrite").parquet(s"$root/_lineage")
    val cp = new Checkpoint(spark, root)
    val row = cp.lineage().collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("rows") == 10L,
      "migration must order old rows by instant, not ISO string or attempt")
  }

  test("generational append: probes equal a from-scratch build over the " +
    "union; untouched cells' bytes never move; appends stack and resume") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.engine.{IndexStore, PointRow, QueryRow}
    val grid = CellGrid.lonLat(4)
    def pts(lo: Long, hi: Long) = spark.range(lo, hi).map { id =>
      PointRow(id,
        PagesGen.uniform(id, 1) * 360.0 - 180.0,
        PagesGen.uniform(id, 2) * 170.0 - 85.0)
    }
    // base = ids [0, 4000); append 1 = [4000, 4700) (mixed old/new cells);
    // append 2 = [4700, 5000)
    val rootA = java.nio.file.Files.createTempDirectory("graft_idxa").toString
    val rootF = java.nio.file.Files.createTempDirectory("graft_idxf").toString
    IndexStore.build(spark, pts(0, 4000), grid, rootA, nGroups = 6)
    // fingerprint every base data file before the appends
    def fileSnap(root: String): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "trees"))
        .iterator().asScala.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val before = fileSnap(rootA)
    IndexStore.append(spark, pts(4000, 4700), grid, rootA, gen = 1, nGroups = 6)
    IndexStore.append(spark, pts(4700, 5000), grid, rootA, gen = 2, nGroups = 6)
    assert(fileSnap(rootA) == before,
      "append must not rewrite any generation-0 data file")
    // the generation-1 stage holds exactly the touched cells
    val touched1 = pts(4000, 4700).collect()
      .map(p => grid.cellId(p.x, p.y)).toSet
    val g1Cells = spark.read.parquet(
        (0 until 6).map(g => s"$rootA/trees_g1/group=$g"): _*)
      .select("cell").collect().map(_.getLong(0)).toSet
    assert(g1Cells == touched1, "gen-1 stage must hold touched cells only")

    // probes through the generational view == from-scratch build over all
    IndexStore.build(spark, pts(0, 5000), grid, rootF, nGroups = 6)
    val (bx0, by0, bx1, by1) = (-170.0, -80.0, 170.0, 80.0)
    def rq(root: String) =
      IndexStore.rangeQuery(spark, root, grid, bx0, by0, bx1, by1)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .toSet
    assert(rq(rootA) == rq(rootF))
    assert(rq(rootA).nonEmpty)
    val qs = spark.range(40).map(i =>
      QueryRow(i, PagesGen.uniform(i + 77, 3) * 300.0 - 150.0,
        PagesGen.uniform(i + 77, 4) * 150.0 - 75.0))
    def knn(root: String) =
      IndexStore.knnQuery(spark, root, grid, qs, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSet
    assert(knn(rootA) == knn(rootF),
      "kNN through generations must be bit-equal to the flat store")

    // marker idempotence: re-appending the same generation recomputes
    // nothing and changes nothing
    val snapAll = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(rootA))
        .iterator().asScala.map(_.toString).toSet
    }
    IndexStore.append(spark, pts(4000, 4700), grid, rootA, gen = 1, nGroups = 6)
    val snapAll2 = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(rootA))
        .iterator().asScala.map(_.toString).toSet
    }
    assert(snapAll2 == snapAll)

    // kill/resume inside an append: drop one committed gen-2 group; the
    // re-run recomputes only that group and the view converges again
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(rootA, "trees_g2", "_done_2"))
    IndexStore.append(spark, pts(4700, 5000), grid, rootA, gen = 2, nGroups = 6)
    assert(rq(rootA) == rq(rootF))

    // LSM compaction: merges the three generations into ONE compacted
    // stage named for the max generation it subsumes (trees_c2 — the
    // append number space is never stolen), retires the old stages, and
    // leaves probes bit-identical
    val preCompact = rq(rootA)
    IndexStore.compact(spark, rootA, nGroups = 6)
    val stages = new java.io.File(rootA).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(n => n == "trees" || n.startsWith("trees_")).sorted.toSeq
    assert(stages == Seq("trees_c2"),
      s"compaction must leave exactly one c-stage, got $stages")
    assert(rq(rootA) == preCompact)
    val knnC = knn(rootA)
    assert(knnC == knn(rootF), "kNN after compaction must be unchanged")
    // a post-compaction append takes the NEXT generation number untouched
    // (the compacted stage owns no append number, so nothing collides)
    IndexStore.append(spark, pts(5000, 5200), grid, rootA, gen = 3, nGroups = 6)
    assert(new java.io.File(s"$rootA/trees_g3").isDirectory)
    val withTail = pts(0, 5200).collect().filter(p =>
      p.x >= -170.0 && p.x <= 170.0 && p.y >= -80.0 && p.y <= 80.0)
      .map(p => (p.id, p.x, p.y)).toSet
    assert(rq(rootA) == withTail,
      "append after compaction must land (no marker collision)")

    // compaction CRASH state: old generations intact + a PARTIAL target
    // generation (a compaction dies before deleting old stages). Build it
    // on a replica: base + append, then hand-commit a partial g2 holding
    // only a slice of the latest view — exactly what committed groups of
    // an interrupted compaction contain. The latest-wins view must mask
    // it (its cells duplicate the view they were computed from), and the
    // NEXT compaction must subsume everything into one stage.
    val rootC = java.nio.file.Files.createTempDirectory("graft_idxc").toString
    IndexStore.build(spark, pts(0, 4000), grid, rootC, nGroups = 6)
    IndexStore.append(spark, pts(4000, 5000), grid, rootC, gen = 1, nGroups = 6)
    val wantC = rq(rootC)
    val partialSlice = IndexStore.table(spark, rootC)
      .where(col("cell") % 6 === 0).collect()
    val cpC = new Checkpoint(spark, rootC)
    // hand-commit group 0 of what a crashed compact(nGroups=6) would have
    // written: the c-stage named for the max subsumed generation (1),
    // holding the group-0 slice of the view
    cpC.runStage("trees_c1", 1, { _ =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(partialSlice.toSeq, 1),
        IndexStore.table(spark, rootC).schema)
    })
    assert(rq(rootC) == wantC,
      "a partial compaction stage must be masked by latest-wins")
    // the recovery compaction RESUMES the same c-stage (group 0 already
    // committed), completes the remaining groups, retires the old stages
    IndexStore.compact(spark, rootC, nGroups = 6)
    val stagesC = new java.io.File(rootC).listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(n => n == "trees" || n.startsWith("trees_")).sorted.toSeq
    assert(stagesC == Seq("trees_c1"),
      s"recovery compaction must converge to one stage, got $stagesC")
    assert(rq(rootC) == wantC)
    // and a stream REPLAYING an already-subsumed batch (gen 1 again,
    // its base generations gone) must neither crash nor change the view:
    // the recreated trees_g1 is outranked by trees_c1
    IndexStore.append(spark, pts(4000, 5000), grid, rootC, gen = 1, nGroups = 6)
    assert(rq(rootC) == wantC,
      "a replayed subsumed batch must be dominated by the compacted stage")
  }

  test("Hadoop FS port: an explicit file:-scheme root builds, kill/resumes, " +
    "appends, compacts and serves — no POSIX path ever touched") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    import graft.engine.{IndexStore, PointRow, QueryRow}
    val grid = CellGrid.lonLat(4)
    // scheme-qualified root: the engine must resolve every operation
    // through the Hadoop FileSystem for this scheme (the same code path a
    // hdfs:// or s3a:// root takes on a real cluster)
    val root = "file:" +
      java.nio.file.Files.createTempDirectory("graft_idxh").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pts(lo: Long, hi: Long) = spark.range(lo, hi).map { id =>
      PointRow(id,
        PagesGen.uniform(id, 1) * 360.0 - 180.0,
        PagesGen.uniform(id, 2) * 170.0 - 85.0)
    }
    IndexStore.build(spark, pts(0, 3000), grid, root, nGroups = 4)

    // SIGKILL simulation through the SAME FileSystem the engine uses:
    // drop one committed group (marker + data)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/trees/_done_1"), false)
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/trees/group=1"), true)
    val cp = new Checkpoint(spark, root)
    assert(cp.completedGroups("trees") == Set(0, 2, 3))
    IndexStore.build(spark, pts(0, 3000), grid, root, nGroups = 4)
    assert(cp.completedGroups("trees") == (0 until 4).toSet)

    val (bx0, by0, bx1, by1) = (-120.0, -60.0, 120.0, 60.0)
    def rq() = IndexStore.rangeQuery(spark, root, grid, bx0, by0, bx1, by1)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    def brute(hi: Long) = pts(0, hi).collect().filter(p =>
      p.x >= bx0 && p.x <= bx1 && p.y >= by0 && p.y <= by1)
      .map(p => (p.id, p.x, p.y)).toSet
    assert(rq() == brute(3000))
    assert(rq().nonEmpty)

    // generational append + marker idempotence on the scheme'd store
    IndexStore.append(spark, pts(3000, 3500), grid, root, gen = 1, nGroups = 4)
    assert(rq() == brute(3500))
    def walk(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) out += it.next().getPath.toString
      out.toSet
    }
    val snap = walk()
    IndexStore.append(spark, pts(3000, 3500), grid, root, gen = 1, nGroups = 4)
    assert(walk() == snap, "marker-idempotent re-append must write nothing")

    // compaction retires the old stages through the FS API
    IndexStore.compact(spark, root, nGroups = 4)
    val stages = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n == "trees" || n.startsWith("trees_")).sorted.toSeq
    assert(stages == Seq("trees_c1"),
      s"compaction must leave exactly one c-stage, got $stages")
    assert(rq() == brute(3500))

    // kNN served from the scheme'd store matches the in-memory join shape
    val qs = spark.range(20).map(i =>
      QueryRow(i, PagesGen.uniform(i + 31, 3) * 300.0 - 150.0,
        PagesGen.uniform(i + 31, 4) * 150.0 - 75.0))
    val got = IndexStore.knnQuery(spark, root, grid, qs, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = pts(0, 3500).collect()
    val wantNn = qs.collect().flatMap { q =>
      all.map(p => (q.qid, p.id,
          (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)))
        .sortBy(t => (t._3, t._2)).take(2).map(t => (t._1, t._2))
    }.toSet
    assert(got == wantNn)
  }

  test("lineage is observed in the write: rows and envelope equal a " +
    "read-back aggregate of each group; an empty group records a null " +
    "envelope, a stage without xCol a NaN one") {
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft_cp4").toString
    val cp = new Checkpoint(spark, root)
    // group 3 of 4 is empty: the keys are id % 3
    val df = spark.range(600).select(
      (col("id") % 3).as("g"),
      (sin(col("id")) * 170.0).as("x"), (cos(col("id") * 7) * 80.0).as("y"))
    cp.runStage("env", 4, g => df.where(col("g") === g), xCol = "x", yCol = "y")
    cp.runStage("plain", 2, g => df.where(col("g") % 2 === g))
    val lin = cp.lineage()
    def row(stage: String, g: Int) = {
      val rs = lin.where(col("stage") === stage && col("grp") === g).collect()
      assert(rs.length == 1, s"$stage/$g: ${rs.length} lineage rows")
      rs(0)
    }
    (0 until 4).foreach { g =>
      val want = spark.read.parquet(s"$root/env/group=$g")
        .agg(count(lit(1)), min("x"), min("y"), max("x"), max("y")).collect()(0)
      val got = row("env", g)
      assert(got.getAs[Long]("rows") == want.getLong(0), s"group $g rows")
      Seq("min_x", "min_y", "max_x", "max_y").zipWithIndex.foreach {
        case (k, i) =>
          if (want.isNullAt(i + 1)) assert(got.isNullAt(got.fieldIndex(k)), s"$g $k")
          else assert(got.getAs[Double](k) == want.getDouble(i + 1), s"$g $k")
      }
    }
    assert(row("env", 3).getAs[Long]("rows") == 0L)
    assert(row("env", 3).isNullAt(row("env", 3).fieldIndex("min_x")))
    (0 until 2).foreach { g =>
      val got = row("plain", g)
      assert(got.getAs[Long]("rows") ==
        spark.read.parquet(s"$root/plain/group=$g").count())
      Seq("min_x", "min_y", "max_x", "max_y").foreach(k =>
        assert(got.getAs[Double](k).isNaN, s"plain $g $k"))
      assert(got.getAs[Long]("wall_ms") >= 0L && got.getAs[Long]("attempt") != 0L)
    }
  }

  test("a _lineage mixing Spark-written files with driver-written ones " +
    "reads one row per (stage, grp), the latest attempt winning") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cp5").toString
    // Spark-written rows in the schema the Spark writer gave the lineage:
    // earlier, uncommitted attempts of groups 0 and 1 of stage "s"
    Seq(("s", 0, 999L, 1.0, 2.0, 3.0, 4.0, 10L, "2026-01-01T00:00:00Z",
        1767225600000L, 1L),
      ("s", 1, 999L, 1.0, 2.0, 3.0, 4.0, 10L, "2026-01-01T00:00:01Z",
        1767225601000L, 2L))
      .toDF("stage", "grp", "rows", "min_x", "min_y", "max_x", "max_y",
        "wall_ms", "committed_at", "committed_ms", "attempt")
      .write.mode("append").parquet(s"$root/_lineage")
    // and one from before committed_ms existed, of another stage
    Seq(("old", 0, 7L, "2026-01-01T00:00:02Z", 3L))
      .toDF("stage", "grp", "rows", "committed_at", "attempt")
      .write.mode("append").parquet(s"$root/_lineage")
    val cp = new Checkpoint(spark, root)
    val df = spark.range(90).select((col("id") % 3).as("g"),
      col("id").cast("double").as("x"), col("id").cast("double").as("y"))
    cp.runStage("s", 3, g => df.where(col("g") === g), xCol = "x", yCol = "y")
    // Spark names its files part-<task>-<uuid>-c000.snappy.parquet, the
    // driver part-<uuid>.parquet
    val (sparkFiles, driverFiles) = new java.io.File(s"$root/_lineage")
      .listFiles().map(_.toString).filter(_.endsWith(".parquet"))
      .filterNot(_.contains("/.")).partition(_.endsWith(".snappy.parquet"))
    assert(driverFiles.length == 3, "one driver-written file per group")
    val sparkSchema = sparkFiles.map(spark.read.parquet(_).schema)
      .find(_.fieldNames.contains("committed_ms")).get
    driverFiles.foreach(f => assert(spark.read.parquet(f).schema == sparkSchema,
      "driver-written lineage keeps the Spark-written columns and types"))
    val lin = cp.lineage().select("stage", "grp", "rows").as[(String, Int, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(lin == Seq(("old", 0, 7L), ("s", 0, 30L), ("s", 1, 30L), ("s", 2, 30L)))
  }
}
