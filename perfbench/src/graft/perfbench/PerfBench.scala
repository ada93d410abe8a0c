package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.index.CellGrid

/** Benchmark main: one workload, one seed, one process, one client thread.
  *
  *   PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <record.json>
  *
  * Sets up `SetupReps` times (session start, input generation, base index
  * build), makes the workload's untimed warm pass (full-result checks and
  * one round), then rounds until the timed calls add up to `--seconds`
  * (at least two rounds; see [[Runner.loop]]).
  * With `--trace 1`, untraced and traced rounds interleave until each kind
  * adds up to `--seconds`; traced rounds put spans around each call and a
  * [[CallListener]] attributes Spark work to them; the driver-side
  * [[Replays]] follow. Writes the raw record as JSON to `--out`; the
  * Python side turns it into metrics.
  */
object PerfBench {
  val SetupReps = 3
  /** Entity rows the driver-side replays probe with. */
  val SampleRows = 50000

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--work"), get("--out"))
  }

  /** The session graft.Bench uses, with scratch space kept under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Starts tracking the heap in use right after each garbage collection;
    * the returned function gives the peak so far in MB (the live-heap
    * high-water mark).
    */
  private def watchLiveHeap(): () => Double = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max)
          }, null, null)
      case _ => ()
    }
    () => peak.get / 1048576.0
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def deleteTree(p: java.io.File): Unit = {
    Option(p.listFiles()).foreach(_.foreach(deleteTree))
    p.delete()
  }

  private val started = System.nanoTime()
  private def mark(what: String): Unit =
    System.err.println(f"perfbench: $what at ${(System.nanoTime() - started) / 1e9}%.1f s")

  def run(a: Args): Map[String, Any] = {
    val cores = Runtime.getRuntime.availableProcessors
    var spark: SparkSession = null
    var w: Workload = null
    val setupS = (0 until SetupReps).map { rep =>
      if (spark != null) {
        spark.stop()
        deleteTree(new java.io.File(w.dir))
      }
      val t0 = System.nanoTime()
      spark = session(cores, a.work)
      w = Workload(a.workload, spark, s"${a.work}/setup$rep", a.seed)
      w.setup()
      mark(s"setup $rep")
      (System.nanoTime() - t0) / 1e9
    }

    val run = new Runner(spark, cores)
    w.warm(run)
    mark("warm pass and checks")

    var layers = Map.empty[String, Double]
    val sc = spark.sparkContext
    val listener =
      if (!a.trace) None
      else {
        run.traced = new Tracer(s"${a.workload}-${a.seed}-${System.currentTimeMillis()}", on = true)
        val l = new CallListener(run.traced)
        sc.addSparkListener(l)
        Some(l)
      }
    val gc0 = gcMs
    val liveHeapPeakMb = watchLiveHeap()
    val phases =
      if (a.trace) Seq("measure", "traced", "traced", "measure") else Seq("measure")
    run.loop(a.seconds, phases)(w.round(run))
    val heapPeakMb = liveHeapPeakMb()
    val gcS = (gcMs - gc0) / 1e3
    mark("measured loop")
    listener.foreach { l =>
      run.phase = "traced_extra"
      w.tracedExtras(run)
      run.verify("listener drained")(
        Option.when(!CallListener.drain(sc, l, "end"))("no drain marker within 60 s"))
      sc.removeSparkListener(l)
      run.attachSpark(l)
      val sample = Inputs.entitiesLocal(Inputs.pageBase(a.seed), SampleRows)
        .take(SampleRows)
      val tiles = Inputs.tilesLocal(a.seed, 10000, 0.2)
      layers = Replays.index(sample, tiles, Inputs.poisLocal(a.seed, 100000)) ++
        Replays.functions(spark, CellGrid.lonLat(6), sample, tiles)
      mark("replays")
    }
    val store = w.storeFacts
    spark.stop()
    mark("stop")
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> cores,
      "setup_s" -> setupS, "attempted" -> run.attempted,
      "failures" -> run.failures.toSeq, "calls" -> run.calls.toSeq,
      "spans" -> run.traced.spans, "layers" -> layers, "store" -> store,
      "jvm" -> Map("heap_live_peak_mb" -> heapPeakMb, "gc_s" -> gcS))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val a = parse(args)
        val rec = run(a)
        // NaN as a bare token, which Python's json module reads as a float
        new ObjectMapper().registerModule(DefaultScalaModule)
          .configure(JsonGenerator.Feature.QUOTE_NON_NUMERIC_NUMBERS, false)
          .writeValue(new java.io.File(a.out), rec)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    sys.exit(code)
  }
}
