package graft.bench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed op of the closed loop: one call the client waits for. */
final case class Op(id: Int, name: String, write: Boolean,
    t0: Long, t1: Long, wall0Ms: Long, wall1Ms: Long, ok: Boolean) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** A traced interval around one call into a layer. `parent` is the span
  * the call was made from (-1 at the op's top level); spans of one op
  * share its `op` id. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    t0: Long, t1: Long) {
  def seconds: Double = (t1 - t0) / 1e9
}

/** Spark work caused by one op, summed from listener events. */
final class OpWork {
  var jobs, stages, tasks = 0L
  var runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var cpuNs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Times ops and, when `traced`, records spans and assigns Spark job,
  * stage and task metrics to the op that caused them through the job
  * group. Everything stays in memory until the run writes it out. */
final class Recorder(sc: SparkContext, val traced: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var current = -1
  /** An op that would start after this instant ends the process with a
    * failure: the loop's work is fixed, so a run this slow is broken. */
  var limitNs = Long.MaxValue
  val listener: Option[OpListener] =
    if (traced) Some(new OpListener) else None
  listener.foreach(sc.addSparkListener)

  /** Run one op. A throw is recorded as a failed op, not rethrown. */
  def op[T](name: String, write: Boolean)(body: => T): Option[T] = {
    val id = ops.size
    if (System.nanoTime() > limitNs) {
      System.err.println(s"loop overran its time limit before op $id $name")
      sys.exit(3)
    }
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    current = id
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Some(span(name)(body)) catch {
      case NonFatal(e) =>
        System.err.println(s"op $id $name failed: $e")
        None
    }
    val t1 = System.nanoTime()
    ops += Op(id, name, write, t0, t1, w0, System.currentTimeMillis(), r.isDefined)
    sc.clearJobGroup()
    current = -1
    r
  }

  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, current, name, t0, System.nanoTime())
      }
    }

  def add(name: String, v: Double): Unit =
    if (traced) counters(name) = counters.getOrElse(name, 0.0) + v

  def max(name: String, v: Double): Unit =
    if (traced) counters(name) = math.max(counters.getOrElse(name, 0.0), v)

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** Span duration minus the part of it that its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.t0, k.t1))
    (s.t1 - s.t0 - Stats.unionLength(kids.toSeq, s.t0, s.t1)) / 1e9
  }
}

/** Assigns listener events to ops by the `op-<id>` job group. */
final class OpListener extends SparkListener {
  val work = new ConcurrentHashMap[Int, OpWork]()
  private val jobOp = new ConcurrentHashMap[Int, Int]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()

  private def of(op: Int): OpWork = work.computeIfAbsent(op, _ => new OpWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith("op-")).foreach { g =>
      val op = g.stripPrefix("op-").toInt
      jobOp.put(e.jobId, op)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(stageOp.put(_, op))
      of(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobOp.get(e.jobId)).foreach { op =>
      of(op).jobIntervals += ((jobStart.get(e.jobId), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageOp.get(e.stageInfo.stageId)).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageOp.get(e.stageId)).foreach { op =>
      val w = of(op)
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.runMs += m.executorRunTime
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest sample with at least ten samples above it, but never
    * one below the median, and the percentile it sits at. With ten
    * samples or fewer no sample qualifies; the maximum stands in and the
    * percentile reads 100. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted
      val n = s.size
      if (n <= 10) (s.last, 100.0)
      else {
        val k = math.max(n - 11, n / 2)
        (s(k), 100.0 * (k + 1) / n)
      }
    }

  /** Length of the union of `iv` clipped to [lo, hi]. */
  def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, end)
      val b = math.min(b0, hi)
      if (b > a) { total += b - a; end = b }
    }
    total
  }
}
