package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.data.PagesGen
import graft.engine.{IndexStore, PointRow, QueryRow}
import graft.index.CellGrid

/** Spark job counts of the persisted-store calls on a 3-generation store
  * (base + 2 appends, then a compaction): reads resolve latest-wins on the
  * driver from the cell manifests, so a range probe is one scan job with
  * no shuffle, a kNN batch is planned on the driver and answered by one
  * scan job with no shuffle, and every commit group is one write job — the
  * manifests and lineage rows it commits are collected inside that write,
  * and an append plans its base slice on the driver.
  */
class StoreJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-store-jobs-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Jobs and shuffle bytes per job group. Listener events arrive
    * asynchronously but in order, so [[measure]] ends every call with a
    * one-task marker job and waits for that job's end.
    */
  private final class JobCounter extends SparkListener {
    val jobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val shuffleBytes = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    private val stageGroup = mutable.HashMap.empty[Int, String]
    private val jobGroup = mutable.HashMap.empty[Int, String]
    private val ended = mutable.HashSet.empty[String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        jobs(g) += 1
        jobGroup(e.jobId) = g
        e.stageIds.foreach(stageGroup(_) = g)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobGroup.remove(e.jobId).foreach(ended += _)
      notifyAll()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics))
        shuffleBytes(g) += m.shuffleWriteMetrics.bytesWritten
    }

    def await(g: String): Unit = synchronized {
      val deadline = System.currentTimeMillis() + 60000L
      while (!ended(g) && System.currentTimeMillis() < deadline) wait(100L)
      assert(ended(g), s"listener never saw the end of job group $g")
    }
  }

  private def measure[T](l: JobCounter, name: String)(body: => T): (Int, Long) = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try body finally sc.clearJobGroup()
    val marker = s"$name-drained"
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    l.await(marker)
    (l.jobs(name), l.shuffleBytes(name))
  }

  test("3-generation store: rangeQuery and knnQuery scan in 1 job with no shuffle") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val grid = CellGrid.lonLat(4)
    def pts(lo: Long, hi: Long) = spark.range(lo, hi).map { id =>
      PointRow(id,
        PagesGen.uniform(id, 1) * 360.0 - 180.0,
        PagesGen.uniform(id, 2) * 170.0 - 85.0)
    }
    val root = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    val l = new JobCounter
    spark.sparkContext.addSparkListener(l)
    try {
      val (buildJobs, _) = measure(l, "build") {
        IndexStore.build(spark, pts(0, 3000), grid, root, nGroups = 2)
      }
      val (appendJobs, _) = measure(l, "append") {
        IndexStore.append(spark, pts(3000, 3400), grid, root, gen = 1, nGroups = 2)
      }
      IndexStore.append(spark, pts(3400, 3600), grid, root, gen = 2, nGroups = 2)
      assert(IndexStore.generationCount(spark, root) == 3)

      var rows = 0
      val (rangeJobs, rangeShuffle) = measure(l, "range") {
        rows = IndexStore.rangeQuery(spark, root, grid, -60.0, -30.0, 70.0, 40.0)
          .collect().length
      }
      val qs = spark.range(50).map(i =>
        QueryRow(i, PagesGen.uniform(i + 91, 3) * 300.0 - 150.0,
          PagesGen.uniform(i + 91, 4) * 150.0 - 75.0))
      var knn: DataFrame = null
      val (knnJobs, knnShuffle) = measure(l, "knn") {
        knn = IndexStore.knnQuery(spark, root, grid, qs, 3)
      }
      var knnRows = 0
      val (knnCollectJobs, _) = measure(l, "knn-collect") {
        knnRows = knn.collect().length
      }
      val (compactJobs, _) = measure(l, "compact") {
        IndexStore.compact(spark, root, nGroups = 2)
      }
      info(s"jobs: build $buildJobs, append $appendJobs, range $rangeJobs, " +
        s"knn $knnJobs (+ $knnCollectJobs to collect), compact $compactJobs; " +
        s"shuffle bytes: range $rangeShuffle, knn $knnShuffle")
      assert(rows > 0 && knnRows >= 150)
      assert(rangeJobs == 1, s"rangeQuery ran $rangeJobs jobs")
      assert(rangeShuffle == 0L, s"rangeQuery wrote $rangeShuffle shuffle bytes")
      // the spark.range query batch collected in one job (a local batch
      // takes none), then the covered-cell scan, whose partitions cut their
      // queries' k best for the driver to merge; the answer is a local
      // relation, so collecting it runs no job
      assert(knnJobs == 2, s"knnQuery ran $knnJobs jobs")
      assert(knnShuffle == 0L, s"knnQuery wrote $knnShuffle shuffle bytes")
      assert(knnCollectJobs == 0, s"collecting the kNN answer ran $knnCollectJobs jobs")
      // per group, the exchange of the batch by cell and the write, whose
      // lineage row and manifest are observed inside it: 2·nGroups
      assert(buildJobs == 4, s"build ran $buildJobs jobs")
      // the batch's touched cells collected once; per group, the exchange
      // of the batch by cell, the exchange of the stored base slice for the
      // left join, and the write: 1 + 3·nGroups
      assert(appendJobs == 7, s"append ran $appendJobs jobs")
      // per group, the write alone: its scan reads just the source groups
      // holding its cells, and its manifest comes from the input manifests
      assert(compactJobs == 2, s"compact ran $compactJobs jobs")
      assert(IndexStore.generationCount(spark, root) == 1)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
