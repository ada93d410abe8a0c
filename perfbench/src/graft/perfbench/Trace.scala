package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is the id of the enclosing span (-1 for a
  * root); times are epoch milliseconds with sub-millisecond precision for
  * spans the benchmark records itself, and millisecond precision for the
  * Spark stage spans the listener reports.
  */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, runId: String)

/** In-memory span recorder for the benchmark's own calls into the
  * program. Spans nest by call order on the client thread; stage spans
  * arrive from [[CallListener]] with their parent already resolved.
  * Disabled, `span` only evaluates its body.
  */
final class Tracer(val runId: String, val on: Boolean) {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def spans: Seq[Span] = synchronized(buf.toList)

  def newId(): Int = synchronized { nextId += 1; nextId }


  def add(s: Span): Unit = synchronized(buf += s)

  def span[T](name: String)(body: Int => T): T =
    if (!on) body(-1)
    else {
      val id = newId()
      val parent = open.headOption.getOrElse(-1)
      val t0 = nowMs
      open = id :: open
      try body(id)
      finally {
        open = open.tail
        add(Span(id, name, t0, nowMs, parent, runId))
      }
    }
}

/** Spark work attributed to one traced call: everything run under the
  * job group the call set.
  */
final class CallStats {
  var jobs = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Per stage: task durations in ms. */
  val stageTasks = mutable.LinkedHashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time in the stage with the most total task time;
    * 1.0 when the call ran no task.
    */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.last.toDouble / math.max(med, 1.0)
    }
}

/** Attributes Spark jobs, stages and tasks to the benchmark's calls by
  * the `spark.jobGroup.id` property each call sets. Job groups named
  * `span<id>` make each finished stage a child span of span `id`.
  */
final class CallListener(tracer: Tracer) extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, CallStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val endedGroups = mutable.HashSet.empty[String]
  private val jobGroup = mutable.HashMap.empty[Int, String]

  def stats(group: String): CallStats =
    synchronized(byGroup.getOrElseUpdate(group, new CallStats))

  def groups: Seq[String] = synchronized(byGroup.keys.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null) {
      byGroup.getOrElseUpdate(g, new CallStats).jobs += 1
      jobGroup(e.jobId) = g
      e.stageIds.foreach(s => stageGroup(s) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(endedGroups += _)
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val g = synchronized(stageGroup.get(info.stageId))
    for {
      group <- g if group.startsWith("span")
      t0 <- info.submissionTime
      t1 <- info.completionTime
    } tracer.add(Span(tracer.newId(), s"stage.${info.stageId}", t0.toDouble,
      t1.toDouble, group.stripPrefix("span").toInt, tracer.runId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = byGroup.getOrElseUpdate(g, new CallStats)
      s.tasks += 1
      s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Blocks until a job of `group` has ended: events reach this listener
    * in order, so after a marker job's end every earlier event is in.
    */
  def awaitGroupEnd(group: String, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!endedGroups.contains(group) && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    endedGroups.contains(group)
  }
}

object CallListener {
  /** Runs a one-task marker job and waits for the listener to see it end. */
  def drain(sc: SparkContext, l: CallListener, tag: String): Boolean = {
    val g = s"drain-$tag"
    sc.setJobGroup(g, g)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    l.awaitGroupEnd(g, 60000L)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
