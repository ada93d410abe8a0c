package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.data.PagesGen
import graft.engine.{IndexStore, PointRow, QueryRow}
import graft.index.CellGrid

/** Spark job counts of the persisted-store calls on a 3-generation store
  * (base + 2 appends): reads resolve latest-wins on the driver from the
  * cell manifests, so a range probe is one scan job with no shuffle, and
  * the manifests the build commits ride inside its write jobs.
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

  test("3-generation store: rangeQuery is 1 job with no shuffle, knnQuery " +
    "≤ 8 jobs, build gains no job") {
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
      IndexStore.append(spark, pts(3000, 3400), grid, root, gen = 1, nGroups = 2)
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
      var knnRows = 0
      val (knnJobs, _) = measure(l, "knn") {
        knnRows = IndexStore.knnQuery(spark, root, grid, qs, 3).collect().length
      }
      info(s"jobs: build $buildJobs, range $rangeJobs, knn $knnJobs; " +
        s"range shuffle bytes $rangeShuffle")
      assert(rows > 0 && knnRows >= 150)
      assert(rangeJobs == 1, s"rangeQuery ran $rangeJobs jobs")
      assert(rangeShuffle == 0L, s"rangeQuery wrote $rangeShuffle shuffle bytes")
      assert(knnJobs <= 8, s"knnQuery ran $knnJobs jobs")
      // 11 jobs before the manifests: per group its write (with the
      // exchange below it) and lineage, plus the footer reads
      assert(buildJobs <= 11, s"build ran $buildJobs jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
