package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed call into the program. `role` groups calls into the
  * end-to-end metrics ("join", "knn", "write"); `phase` is "warm",
  * "measure" (tracing off) or "traced".
  */
final case class CallRec(op: String, role: String, phase: String, round: Int,
    rows: Long, sec: Double, ok: Boolean, span: Int,
    spark: Map[String, Double])

/** Runs the client loop: one thread, each call waiting for its reply.
  * Times each call, checks each result outside the timer, and counts
  * every call and check as an attempted operation.
  */
final class Runner(spark: SparkSession, val cores: Int) {
  private val quiet = new Tracer("untraced", on = false)
  /** The tracer of "traced" rounds; other phases record nothing. */
  var traced: Tracer = quiet
  var phase = "warm"
  var round = 0
  val calls = mutable.ArrayBuffer.empty[CallRec]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0

  def tracer: Tracer = if (phase.startsWith("traced")) traced else quiet

  private def fail(what: String, cause: String): Unit = {
    failures += s"$what: $cause"
    System.err.println(s"perfbench FAILED $what: $cause")
  }

  private def causeOf(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getName}: ${e.getMessage}" +
      (if (root ne e) s" (root: ${root.getClass.getName}: ${root.getMessage})"
       else "")
  }

  /** Times `body`, then checks its result with `check` (None = correct). */
  def call[T](op: String, role: String, rows: Long)(body: => T)(
      check: T => Option[String]): Option[T] = {
    attempted += 1
    var out: Option[T] = None
    var spanId = -1
    val sc = spark.sparkContext
    val sec = tracer.span(s"engine.$op") { id =>
      spanId = id
      if (id >= 0) sc.setJobGroup(s"span$id", op)
      val t0 = System.nanoTime()
      try out = Some(body)
      catch { case NonFatal(e) => fail(op, causeOf(e)) }
      finally if (id >= 0) sc.clearJobGroup()
      (System.nanoTime() - t0) / 1e9
    }
    val wrong = out.flatMap { r =>
      try check(r) catch { case NonFatal(e) => Some(causeOf(e)) }
    }
    wrong.foreach(fail(s"$op result", _))
    calls += CallRec(op, role, phase, round, rows, sec,
      out.isDefined && wrong.isEmpty, spanId, Map.empty)
    out
  }

  /** A correctness check that is not a timed call. */
  def verify(what: String)(check: => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val wrong = try check catch { case NonFatal(e) => Some(causeOf(e)) }
    wrong.foreach(fail(what, _))
    System.err.println(f"perfbench: check '$what' took ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** One untimed round. */
  def warmRound(body: => Unit): Unit = { phase = "warm"; round += 1; body }

  /** Rounds, taking `phases` in turn, until the timed calls of every phase
    * add up to `seconds` and every phase has run at least two rounds, so
    * that no median rests on a single round even when a slow host
    * stretches one round past `seconds`. Taking "measure" and "traced"
    * rounds in the order measure, traced, traced, measure puts both at
    * the same mean point of the JVM's warm-up, which goes on speeding
    * rounds up.
    */
  def loop(seconds: Double, phases: Seq[String])(body: => Unit): Unit = {
    val total = mutable.LinkedHashMap(phases.map(_ -> 0.0): _*)
    val rounds = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var i = 0
    while (total.values.min < seconds || phases.exists(rounds(_) < 2)) {
      phase = phases(i % phases.size)
      i += 1
      round += 1
      rounds(phase) += 1
      val before = calls.length
      tracer.span("round") { _ => body }
      total(phase) += calls.iterator.drop(before).map(_.sec).sum
      if (calls.length == before) total(phase) = seconds // nothing ran
    }
  }

  /** Attaches the listener's per-call Spark work to the traced calls. */
  def attachSpark(l: CallListener): Unit =
    calls.indices.foreach { i =>
      val c = calls(i)
      if (c.span >= 0) {
        val s = l.stats(s"span${c.span}")
        val runS = s.runMs / 1e3
        calls(i) = c.copy(spark = Map(
          "jobs" -> s.jobs.toDouble, "tasks" -> s.tasks.toDouble,
          "run_s" -> runS, "cpu_s" -> s.cpuNs / 1e9,
          "busy_share" -> (if (c.sec > 0) runS / (c.sec * cores) else 0.0),
          "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
          "spill_bytes" -> s.spillBytes.toDouble,
          "task_skew" -> s.taskSkew))
      }
    }
}
